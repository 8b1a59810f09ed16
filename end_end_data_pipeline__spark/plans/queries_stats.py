"""Statistical / ML-adjacent catalog queries: least-squares trend
lines, market-basket association rules, BFS shortest paths, EWMA
smoothing, sketch-pruned heavy hitters, a quantized covariance matrix
(the PCA building block), and Pareto ABC classification.

These extend SURVEY.md §2's A/W/J/UD rows with the model-feature and
diagnostics layer the reference's declared-but-absent analytics stack
implies (reference ``README.md:62`` lists a ``banking_dbt/`` marts dir
that was never built — SURVEY.md §0): trend slopes per segment are
regression features, basket lift is the cross-sell signal over order
line co-occurrence, heavy hitters is the hot-key diagnostic behind the
skew mitigations in ``operators/scale.py``, and the covariance matrix
is the input to every PCA/whitening step over the embedding corpus.

Cross-engine determinism (the repo-wide recipe, see module docstring
of ``queries_analytics``): every aggregate moment accumulates in exact
DECIMAL or BIGINT (order-independent), is cast to double once, and all
follow-on arithmetic is the same scalar double expression tree on both
engines — bit-identical.  The two sketch queries keep their
approximation INTERNAL (Misra-Gries only prunes candidates; integer
quantization is itself the declared transform), so the driver hash
check stays exact.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.functions.scalar import exact_mean_std
from end_end_data_pipeline__spark.plans.catalog import register
from end_end_data_pipeline__spark.sources import lake

# ---------------------------------------------------------------------------
# A: least-squares trend per segment (exact-moment linear regression)
# ---------------------------------------------------------------------------

# Day anchor keeps x small (0..~2400) so every moment stays well inside
# exact-conversion range when cast to double.
_X_ANCHOR = "1995-01-01"

@register(
    "stats_linear_trend_by_segment",
    oracle=f"""
        WITH pts AS (
            SELECT c_mktsegment AS segment,
                   date_diff('day', DATE '{_X_ANCHOR}',
                             CAST(o_orderdate AS DATE)) AS x,
                   CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                       AS yc
            FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        m AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(x AS BIGINT)) AS sx,
                   SUM(yc) AS syc,
                   SUM(CAST(x AS BIGINT) * yc) AS sxyc,
                   SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS sx2,
                   SUM(yc * yc) AS sy2c
            FROM pts GROUP BY segment
        ),
        d AS (
            SELECT segment, n,
                   CAST(n * sxyc - sx * syc AS DOUBLE) AS a,
                   CAST(n * sx2 - sx * sx AS DOUBLE) AS b,
                   CAST(n * sy2c - syc * syc AS DOUBLE) AS c,
                   CAST(sx AS DOUBLE) AS sxd,
                   CAST(syc AS DOUBLE) AS sycd,
                   CAST(n AS DOUBLE) AS nd
            FROM m
        )
        SELECT segment, n AS n_orders,
               (a / b) / 100.0 AS slope_per_day,
               ((sycd - (a / b) * sxd) / nd) / 100.0 AS intercept,
               (a * a) / (b * c) AS r2
        FROM d
    """,
    survey_ids=("A2", "A3", "F13"),
)
def stats_linear_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment least-squares trend of order value over time
    (slope $/day, intercept, r²) — the regression-feature extraction
    step of a forecasting pipeline, computed from exact sufficient
    statistics.

    Plan: one scan, one hash agg per segment accumulating the five
    moments (n, Σx, Σy, Σxy, Σx², Σy²) in BIGINT/DECIMAL — exact hence
    partition-order-independent, and map-side combinable (each moment
    is a plain SUM).  The slope/intercept/r² combine is a scalar
    double expression on 5 rows.  This is the textbook "regression at
    scale = exact moments + driver-size solve" split: at 100 TB the
    shuffle carries five numbers per segment, nothing else.
    """
    orders = lake.load_table(spark, "orders", sf_dir)
    customer = lake.load_table(spark, "customer", sf_dir)
    x = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit(_X_ANCHOR)))
    # Work in integer CENTS so every moment is an exact integer: the
    # one decimal→double cast per combined moment is then a single
    # correctly-rounded conversion on both engines (a fractional-scale
    # decimal of large magnitude would double-round differently).
    yc = (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast("bigint")
    pts = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        x.alias("x"),
        yc.alias("yc"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — overflow-proof sums
    m = pts.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("yc"))).alias("syc"),
        F.sum(dec(F.col("x").cast("bigint") * F.col("yc"))).alias("sxyc"),
        F.sum(dec(F.col("x").cast("bigint") * F.col("x").cast("bigint"))).alias(
            "sx2"
        ),
        F.sum(dec(F.col("yc")) * dec(F.col("yc"))).alias("sy2c"),
    )
    n_dec = dec(F.col("n"))
    a = (n_dec * F.col("sxyc") - F.col("sx") * F.col("syc")).cast("double")
    b = (n_dec * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    c = (n_dec * F.col("sy2c") - F.col("syc") * F.col("syc")).cast("double")
    sxd = F.col("sx").cast("double")
    sycd = F.col("syc").cast("double")
    nd = F.col("n").cast("double")
    return m.select(
        "segment",
        F.col("n").alias("n_orders"),
        ((a / b) / 100.0).alias("slope_per_day"),
        (((sycd - (a / b) * sxd) / nd) / 100.0).alias("intercept"),
        ((a * a) / (b * c)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# J/A: market-basket association (brand co-occurrence with lift)
# ---------------------------------------------------------------------------

_MIN_PAIR_SUPPORT = 10  # same constant both engines; semantic, not sf-tuned


@register(
    "market_basket_brand_pairs",
    oracle=f"""
        WITH ob AS (
            SELECT DISTINCT l_orderkey AS o, p_brand AS b
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
        bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM ob GROUP BY b),
        pairs AS (
            SELECT a.b AS brand_a, c.b AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS n_pair
            FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
        )
        SELECT brand_a, brand_b, n_pair,
               CAST(n_pair AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
               (CAST(n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
                   / (CAST(ba.nb AS DOUBLE) * CAST(bb.nb AS DOUBLE)) AS lift
        FROM pairs
        CROSS JOIN n
        JOIN bc ba ON ba.b = pairs.brand_a
        JOIN bc bb ON bb.b = pairs.brand_b
    """,
    survey_ids=("J3", "A1", "A5"),
    bench=True,
)
def market_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over order lines: brand pairs bought
    in the same order, with support and lift — the cross-sell signal
    mining step (apriori's 2-itemset level).

    Plan: distinct (order, brand) first — this is the apriori
    monotonicity prune, collapsing the fact table to ≤ |orders|·|brands
    per order| rows BEFORE any pairing; the pair self-join is an
    equi-join on orderkey with per-order fan-out bounded by m² (m =
    distinct brands in one order, single digits), never all-pairs
    across orders; counts reduce by hash agg on the (brand, brand) key
    whose cardinality is ≤ |brands|².  Per-brand totals are a tiny
    broadcast.  Every count is an exact BIGINT; support/lift are the
    single double division at the end.
    """
    lineitem = lake.load_table(spark, "lineitem", sf_dir)
    part = lake.load_table(spark, "part", sf_dir)
    # r12 rewrite (guide §2.3 "aggregate before you shuffle" / §2.4):
    # ONE hash agg collapses the fact join straight to per-order sorted
    # brand sets — collect_set partially aggregates map-side, so the
    # only fact-sized shuffle carries partial sets, replacing the r11
    # distinct exchange + two self-join exchanges of the same rows.
    # Pairs are the in-row 2-combinations of each (sorted) set — the
    # same (a < b per order) multiset the self-join produced, fan-out
    # still bounded by m² per order — and per-brand totals / the order
    # count read the same checkpointed frame.
    obs = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .localCheckpoint(eager=True)
    )
    n_orders = obs.count()
    bc = obs.select(F.explode("bs").alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("nb")
    )
    combos = F.flatten(
        F.transform(
            F.col("bs"),
            lambda x, i: F.transform(
                F.slice(F.col("bs"), i + 2, F.size("bs")),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        obs.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MIN_PAIR_SUPPORT)
    )
    ba = bc.select(F.col("b").alias("brand_a"), F.col("nb").alias("na"))
    bb = bc.select(F.col("b").alias("brand_b"), F.col("nb").alias("nbb"))
    nd = F.lit(float(n_orders))
    return (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            (F.col("n_pair").cast("double") / nd).alias("support"),
            (
                (F.col("n_pair").cast("double") * nd)
                / (F.col("na").cast("double") * F.col("nbb").cast("double"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# J3: BFS shortest-path hops over the transfer network
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 12


@register(
    "graph_bfs_transfer_hops",
    oracle=f"""
        WITH RECURSIVE e AS (
            SELECT o_custkey AS a,
                   (o_orderkey % (SELECT MAX(c_custkey) FROM customer)) + 1 AS b
            FROM orders WHERE o_orderkey % 23 = 0
        ),
        sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        walk(node, hops) AS (
            SELECT CAST(1 AS BIGINT), 0
            UNION
            SELECT sym.b, walk.hops + 1
            FROM walk JOIN sym ON sym.a = walk.node
            WHERE walk.hops < {_BFS_MAX_HOPS}
        )
        SELECT node, CAST(MIN(hops) AS INT) AS hops
        FROM walk GROUP BY node
    """,
    survey_ids=("J3",),
)
def graph_bfs_transfer_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path hop counts from account 1 over the
    transfer network (same deterministic edge recipe as the
    components/pagerank queries: every 23rd order links its customer
    to a counterparty keyed off the order id) — the 'how far is this
    account from a flagged account' reach metric of an AML
    investigation.

    Level-synchronous BFS (``operators.graph.bfs_hops``): per round,
    only the newly-discovered FRONTIER joins the edge list, visited
    nodes are anti-joined out, lineage is checkpoint-truncated.  The
    oracle is the equivalent recursive CTE under set semantics with
    MIN(hop) per node — equal because BFS discovers each node at its
    minimal hop.
    """
    from end_end_data_pipeline__spark.operators.graph import bfs_hops

    orders = lake.load_table(spark, "orders", sf_dir)
    customer = lake.load_table(spark, "customer", sf_dir)
    max_cust = customer.agg(F.max("c_custkey").alias("m")).collect()[0]["m"]
    edges = orders.filter(F.col("o_orderkey") % 23 == 0).select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % F.lit(max_cust) + 1).alias("dst"),
    )
    return bfs_hops(edges, source=1, max_hops=_BFS_MAX_HOPS)


# ---------------------------------------------------------------------------
# W4/A6: EWMA smoothing of the daily event volume
# ---------------------------------------------------------------------------

_EWMA_LAM = Decimal("0.9")
_EWMA_N = 8


def _ewma_sql() -> str:
    # Mirror ewma_lags: weight scale = digits of the longest power so
    # the decimal→double cast is single-rounded on both engines.
    s = -(_EWMA_LAM ** (_EWMA_N - 1)).as_tuple().exponent
    num = " + ".join(
        f"COALESCE(CAST('{_EWMA_LAM**i}' AS DECIMAL(20,{s}))"
        f" * CAST(lag(n, {i}) OVER w AS DECIMAL(18,0)),"
        f" CAST('0' AS DECIMAL(38,{s})))"
        for i in range(_EWMA_N)
    )
    den = " + ".join(
        f"CASE WHEN lag(n, {i}) OVER w IS NULL"
        f" THEN CAST('0' AS DECIMAL(20,{s}))"
        f" ELSE CAST('{_EWMA_LAM**i}' AS DECIMAL(20,{s})) END"
        for i in range(_EWMA_N)
    )
    return f"""
        WITH daily AS (
            SELECT event_type,
                   strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, n AS n_events,
               CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) AS ewma
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """


@register(
    "timeseries_ewma_daily_volume",
    oracle=_ewma_sql(),
    survey_ids=("W4", "A6"),
)
def timeseries_ewma_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA (λ=0.9, 8 lag terms) of the per-type daily event
    volume — the smoothed-load series alerting thresholds compare
    against.  See :func:`operators.timeseries.ewma_lags` for why the
    finite-lag form: one window shuffle on (type, day), no recursion,
    exact-decimal weights so the oracle replays it bit-for-bit.
    """
    from end_end_data_pipeline__spark.operators.timeseries import ewma_lags

    events = lake.load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return daily.select(
        "event_type",
        "day",
        "n_events",
        ewma_lags(
            "n_events",
            "day",
            ["event_type"],
            decay=str(_EWMA_LAM),
            n_lags=_EWMA_N,
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# A4/UD1: guaranteed heavy hitters via a Misra-Gries pre-filter
# ---------------------------------------------------------------------------

_HH_K = 30


@register(
    "heavy_hitters_brand_lineitems",
    oracle=f"""
        SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS freq
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        HAVING COUNT(*) * {_HH_K} > (SELECT COUNT(*) FROM lineitem)
    """,
    survey_ids=("A4", "UD1"),
    bench=True,
)
def heavy_hitters_brand_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brands accounting for more than 1/30 of all order lines, found
    WITHOUT a full-key-space shuffle: a one-scan Misra-Gries sketch
    per partition yields a guaranteed-superset candidate set, then an
    exact count restricted to candidates (broadcast semi-join) applies
    the integer threshold freq·k > n — so the result is exactly the
    plain GROUP BY/HAVING answer while the shuffle only ever carries
    ≤ k·partitions candidate keys.  The hot-key diagnostic that feeds
    ``operators/scale.py``'s salting decisions.  See
    :func:`operators.stats.heavy_hitters` for the guarantee argument.

    r07: the TPC-H brand domain is a 25-value enum, so the query
    passes ``n_keys_hint=25`` — the operator then takes its
    single-pass exact path (one scan + one ≤25-key shuffle) instead
    of paying the join-heavy input TWICE for an MG sketch the enum
    makes redundant (VERDICT r06 task 6: the 6.3× sf1 decade ratio
    was two linear passes over 10× data).  The MG two-pass shape
    remains the demonstrated billion-key path in
    tests/test_stats.py.
    """
    from end_end_data_pipeline__spark.operators.stats import heavy_hitters

    lineitem = lake.load_table(spark, "lineitem", sf_dir)
    part = lake.load_table(spark, "part", sf_dir)
    branded = lineitem.join(part, lineitem.l_partkey == part.p_partkey).select(
        "p_brand"
    )
    return heavy_hitters(branded, "p_brand", _HH_K, n_keys_hint=25).select(
        F.col("key").alias("brand"), "freq"
    )


# ---------------------------------------------------------------------------
# UD7/F13: quantized covariance matrix (distributed PCA step)
# ---------------------------------------------------------------------------

_COV_SCALE = 10_000
_COV_CLAMP = 32_767


@register(
    "embedding_covariance_matrix",
    oracle=f"""
        WITH comp AS (
            SELECT vec_id, CAST(i AS INT) AS i,
                   CAST(greatest(-{_COV_CLAMP}, least({_COV_CLAMP},
                       CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                                  * {_COV_SCALE} + 0.5) AS BIGINT)))
                       AS BIGINT) AS q
            FROM embeddings,
                 (SELECT unnest(range(len(embedding))) AS i
                  FROM (SELECT embedding FROM embeddings LIMIT 1))
        ),
        marg AS (
            SELECT i, SUM(CAST(q AS HUGEINT)) AS m,
                   CAST(COUNT(*) AS HUGEINT) AS n
            FROM comp GROUP BY i
        ),
        pair AS (
            SELECT a.i AS i, b.i AS j,
                   SUM(CAST(a.q AS HUGEINT) * CAST(b.q AS HUGEINT)) AS s
            FROM comp a JOIN comp b
              ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2
        )
        SELECT p.i, p.j,
               CAST(ma.n * p.s - ma.m * mb.m AS DOUBLE)
                   / (CAST(ma.n AS DOUBLE) * CAST(ma.n AS DOUBLE)
                      * {float(_COV_SCALE) * float(_COV_SCALE)!r}) AS cov
        FROM pair p
        JOIN marg ma ON ma.i = p.i
        JOIN marg mb ON mb.i = p.j
    """,
    survey_ids=("UD7", "F13", "UD1"),
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the 64-dim embedding corpus — the
    sufficient statistic behind PCA / whitening / Mahalanobis outlier
    scoring, computed as exact integer partial gramians: one numpy
    ``qᵀq`` matmul per Arrow batch, hash-agg reduce on (i, j), one
    double division at the end.  d(d+1)/2 output rows regardless of
    corpus size; the eigen-solve on the d×d result is a driver-local
    numpy call (the standard big-data PCA split — proven end-to-end in
    ``tests/test_stats.py``).  See
    :func:`operators.stats.quantized_covariance`.
    """
    from end_end_data_pipeline__spark.operators.stats import quantized_covariance

    emb = lake.load_table(spark, "embeddings", sf_dir)
    return quantized_covariance(
        emb, "embedding", scale=_COV_SCALE, clamp=_COV_CLAMP
    )


# ---------------------------------------------------------------------------
# W1/O2: Pareto ABC revenue classification
# ---------------------------------------------------------------------------


@register(
    "pareto_abc_revenue",
    oracle="""
        WITH rev AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(25,6))) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev,
                   SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(rev) OVER () AS total
            FROM rev
        ),
        classed AS (
            SELECT CASE
                     WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80
                         THEN 'A'
                     WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95
                         THEN 'B'
                     ELSE 'C'
                   END AS abc_class,
                   rev, total
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev) AS DOUBLE) AS class_revenue,
               CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
                   AS revenue_share
        FROM classed GROUP BY abc_class
    """,
    survey_ids=("W1", "A2", "O2"),
)
def pareto_abc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto ABC classification of parts by revenue (A = parts
    covering the first 80% of revenue, B to 95%, C the tail) — the
    inventory-prioritization mart.

    Plan (rewired in r07): the fact scan collapses to one
    exact-decimal revenue per part FIRST (hash agg, map-side
    combinable); the cumulative revenue then runs through
    ``operators/scale.ordered_prefix_sums`` with a DECIMAL carrier —
    range-partition the part spine on (rev desc, partkey),
    per-partition decimal partials, driver-prefix-summed offsets as
    exact decimal literals, per-partition cumsum — so the |parts|-row
    spine (millions at 100 TB) never serializes into one task (the
    pre-r07 global window DID — a one-task sort, whatever the old
    docstring hoped).  The grand total rides the collected partials
    as a literal.  Revenue stays DECIMAL through the cumulative and
    class sums (order-independent, bit-identical to the window form);
    doubles appear only in the share division — same tree as the
    oracle.
    """
    from end_end_data_pipeline__spark.operators.scale import (
        ordered_prefix_sums,
    )

    lineitem = lake.load_table(spark, "lineitem", sf_dir)
    rev = lineitem.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(25,6)"
            )
        ).alias("rev")
    )
    ranked = ordered_prefix_sums(
        rev,
        [F.col("rev").desc(), F.col("l_partkey")],
        ["rev"],
        with_totals=True,
        sum_type="decimal(35,6)",
    ).select(
        "l_partkey",
        "rev",
        F.col("__cum_rev").alias("cum"),
        F.col("__tot_rev").alias("total"),
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    classed = ranked.select(
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "rev",
        "total",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
        (F.sum("rev").cast("double") / F.max("total").cast("double")).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# F13/A2: per-dimension feature stats (normalization constants)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_feature_stats",
    oracle=f"""
        WITH comp AS (
            SELECT vec_id, CAST(i AS INT) AS dim,
                   CAST(embedding[i + 1] AS DOUBLE) AS v,
                   CAST(greatest(-{_COV_CLAMP}, least({_COV_CLAMP},
                       CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                                  * {_COV_SCALE} + 0.5) AS BIGINT)))
                       AS BIGINT) AS q
            FROM embeddings,
                 (SELECT unnest(range(len(embedding))) AS i
                  FROM (SELECT embedding FROM embeddings LIMIT 1))
        ),
        m AS (
            SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(q AS HUGEINT)) AS s,
                   SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS s2,
                   MIN(v) AS min_v, MAX(v) AS max_v
            FROM comp GROUP BY dim
        )
        SELECT dim, n,
               CAST(s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * {float(_COV_SCALE)!r}) AS mean_q,
               sqrt(CAST(n * s2 - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * {float(_COV_SCALE) * float(_COV_SCALE)!r})) AS std_q,
               min_v, max_v
        FROM m
    """,
    survey_ids=("F13", "A2", "UD7"),
)
def embedding_dim_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics of the embedding corpus
    (count, mean, population std, min, max) — the normalization
    constants a standardize/whiten step broadcasts before training.

    One posexplode + one hash agg on a d-sized key.  Mean/std come
    from exact integer moments of the same floor(v·S + 0.5)
    quantization as the covariance gramian, so both engines agree
    bit-for-bit (sqrt is IEEE correctly-rounded — safe in a hash
    check, unlike ln/exp); min/max compare float components exactly.
    """
    emb = lake.load_table(spark, "embeddings", sf_dir)
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "__f")
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("__f").cast("double").alias("v"),
    )
    q = F.greatest(
        F.lit(-_COV_CLAMP),
        F.least(
            F.lit(_COV_CLAMP),
            F.floor(F.col("v") * _COV_SCALE + F.lit(0.5)).cast("bigint"),
        ),
    )
    m = comp.withColumn("q", q).groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("q") * F.col("q")).cast("decimal(38,0)")
        ).alias("s2"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    mean_q, std_q = exact_mean_std(
        F.col("n"), F.col("s"), F.col("s2"), unit=float(_COV_SCALE)
    )
    return m.select(
        "dim",
        "n",
        mean_q.alias("mean_q"),
        std_q.alias("std_q"),
        "min_v",
        "max_v",
    )


# ---------------------------------------------------------------------------
# A3/P7: chi-square association cells (source × language)
# ---------------------------------------------------------------------------


@register(
    "corpus_source_lang_chisq",
    oracle="""
        WITH cells AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source, lang
        ),
        tot AS (
            SELECT source, lang, n_docs,
                   SUM(n_docs) OVER (PARTITION BY source) AS row_tot,
                   SUM(n_docs) OVER (PARTITION BY lang) AS col_tot,
                   SUM(n_docs) OVER () AS grand_tot
            FROM cells
        )
        SELECT source, lang, n_docs,
               (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                   / CAST(grand_tot AS DOUBLE) AS expected,
               (CAST(n_docs AS DOUBLE)
                - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                      / CAST(grand_tot AS DOUBLE))
               * (CAST(n_docs AS DOUBLE)
                - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                      / CAST(grand_tot AS DOUBLE))
               / ((CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                      / CAST(grand_tot AS DOUBLE)) AS chi2_cell
        FROM tot
    """,
    survey_ids=("A3", "P7"),
)
def corpus_source_lang_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association cells for the source × language
    contingency table over the document corpus — the drift/statistical
    dependence test behind 'is this crawl source language-skewed?'.
    Reported per CELL ((obs − exp)²/exp, a fixed scalar double tree on
    exact integer marginals) rather than as the summed statistic:
    per-cell values hash-check deterministically, while a cross-group
    double SUM would be partition-order dependent.  Chi-square (not
    KL) keeps the math transcendental-free.

    Plan: one hash agg to the |sources|×|langs| cell grid, then window
    sums over that tiny grid for the marginals — no second scan.
    """
    docs = lake.load_table(spark, "documents", sf_dir)
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_src = Window.partitionBy("source")
    w_lang = Window.partitionBy("lang")
    w_all = Window.partitionBy()
    tot = cells.select(
        "source",
        "lang",
        "n_docs",
        F.sum("n_docs").over(w_src).alias("row_tot"),
        F.sum("n_docs").over(w_lang).alias("col_tot"),
        F.sum("n_docs").over(w_all).alias("grand_tot"),
    )
    exp_d = (
        F.col("row_tot").cast("double") * F.col("col_tot").cast("double")
    ) / F.col("grand_tot").cast("double")
    obs_d = F.col("n_docs").cast("double")
    return tot.select(
        "source",
        "lang",
        "n_docs",
        exp_d.alias("expected"),
        ((obs_d - exp_d) * (obs_d - exp_d) / exp_d).alias("chi2_cell"),
    )


# ---------------------------------------------------------------------------
# A5: two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------


@register(
    "ab_conversion_ztest",
    oracle="""
        WITH per_user AS (
            SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT
                CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_control,
                CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_treatment,
                CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_control,
                CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_treatment
            FROM per_user
        )
        SELECT n_control, n_treatment, c_control, c_treatment,
               CAST(c_control AS DOUBLE) / CAST(n_control AS DOUBLE)
                   AS p_control,
               CAST(c_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
                   AS p_treatment,
               (CAST(c_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
                - CAST(c_control AS DOUBLE) / CAST(n_control AS DOUBLE))
               / sqrt(
                   (CAST(c_control + c_treatment AS DOUBLE)
                        / CAST(n_control + n_treatment AS DOUBLE))
                   * (1.0 - CAST(c_control + c_treatment AS DOUBLE)
                        / CAST(n_control + n_treatment AS DOUBLE))
                   * (1.0 / CAST(n_control AS DOUBLE)
                      + 1.0 / CAST(n_treatment AS DOUBLE))
               ) AS z_score
        FROM agg
    """,
    survey_ids=("A5", "A1"),
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout of a deterministic A/B split
    (variant = user_id mod 2; conversion = user made ≥14 purchases, a
    threshold near the fixture's per-user median so both variants get
    a non-degenerate rate) — the experiment-analysis mart: per-variant
    sample sizes, conversion rates, and the pooled z statistic.

    Plan: per-user collapse (hash agg on user_id, map-side
    combinable), then a single global conditional agg to four exact
    integers; rates and z are one fixed double tree (sqrt is IEEE
    correctly-rounded, so the statistic itself hash-checks).  At
    100 TB the shuffle after the per-user collapse carries four
    numbers.
    """
    events = lake.load_table(spark, "events", sf_dir)
    per_user = events.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("variant"), "converted"
    )
    agg = per_user.groupBy().agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_control"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_treatment"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_control"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_treatment"),
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    cc = F.col("c_control").cast("double")
    ct = F.col("c_treatment").cast("double")
    pool = (cc + ct) / (nc + nt)
    # NOTE: the pooled term is written as (c_control + c_treatment) /
    # (n_control + n_treatment) on BOTH sides (sum in double of exact
    # ints — deterministic), not via the decimal sums
    return agg.select(
        "n_control",
        "n_treatment",
        "c_control",
        "c_treatment",
        (cc / nc).alias("p_control"),
        (ct / nt).alias("p_treatment"),
        (
            (ct / nt - cc / nc)
            / F.sqrt(pool * (F.lit(1.0) - pool) * (1.0 / nc + 1.0 / nt))
        ).alias("z_score"),
    )

# ---------------------------------------------------------------------------
# A8/W2: rank-exact median + MAD (robust location/scale per group)
# ---------------------------------------------------------------------------


def _priority_cents_ranked(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared frame for the robust-statistics queries: order totals as
    exact integer cents per priority (``cents``), plus the total-order
    rank and group size (``ranked``).  One definition so the scaling
    and tie-break can never diverge between the median/MAD and
    trimmed-mean queries."""
    orders = lake.load_table(spark, "orders", sf_dir)
    cents = orders.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(13,2)") * 100)
        .cast("bigint")
        .alias("xc"),
    )
    w_rank = Window.partitionBy("pri").orderBy("xc", "o_orderkey")
    w_all = Window.partitionBy("pri")
    ranked = cents.select(
        "pri",
        "xc",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    return cents, ranked


@register(
    "robust_median_mad_by_priority",
    oracle="""
        WITH cents AS (
            SELECT o_orderpriority AS pri, o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                       AS xc
            FROM orders
        ),
        ranked AS (
            SELECT pri, xc,
                   row_number() OVER (PARTITION BY pri ORDER BY xc,
                                      o_orderkey) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY pri) AS BIGINT) AS n
            FROM cents
        ),
        med AS (
            SELECT pri, MAX(n) AS n,
                   SUM(xc * (CASE WHEN r = (n + 1) // 2 THEN 1 ELSE 0 END
                             + CASE WHEN r = (n + 2) // 2 THEN 1 ELSE 0 END))
                       AS m2
            FROM ranked GROUP BY pri
        ),
        dev AS (
            SELECT c.pri, abs(2 * c.xc - m.m2) AS d,
                   row_number() OVER (PARTITION BY c.pri
                                      ORDER BY abs(2 * c.xc - m.m2),
                                               c.o_orderkey) AS r,
                   m.n
            FROM cents c JOIN med m ON c.pri = m.pri
        ),
        mad AS (
            SELECT pri,
                   SUM(d * (CASE WHEN r = (n + 1) // 2 THEN 1 ELSE 0 END
                            + CASE WHEN r = (n + 2) // 2 THEN 1 ELSE 0 END))
                       AS d2
            FROM dev GROUP BY pri
        )
        SELECT m.pri AS o_orderpriority, m.n AS n_orders,
               CAST(m.m2 AS DOUBLE) / 200.0 AS median_value,
               CAST(a.d2 AS DOUBLE) / 400.0 AS mad_value
        FROM med m JOIN mad a ON m.pri = a.pri
    """,
    survey_ids=("A8", "W2", "F13"),
)
def robust_median_mad_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per order priority: the exact median and
    the median absolute deviation (MAD), the outlier-resistant
    alternative to mean/stddev a monitoring rule should prefer on
    heavy-tailed money columns.

    Rank-exact, interpolation-free: both medians are picked by ROW
    NUMBER (central one or two elements, the single middle weighted
    twice for odd n), deviations are |2x − (m_lo + m_hi)| — the ×2
    clears the midpoint's /2 so EVERYTHING stays exact integer cents
    until two final double divisions.  Plan: two window passes per
    group (rank by value, rank by deviation) with the 5-row median
    frame broadcast back — the per-group sort is the same shuffle a
    percentile agg needs; at 100 TB the scale path swaps in
    approx_percentile while this stays the exact-audit variant.
    """
    cents, ranked = _priority_cents_ranked(spark, sf_dir)
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    pick = F.when(F.col("r") == lo, 1).otherwise(0) + F.when(
        F.col("r") == hi, 1
    ).otherwise(0)
    med = ranked.groupBy("pri").agg(
        F.max("n").alias("n"), F.sum(F.col("xc") * pick).alias("m2")
    )
    dev = cents.join(F.broadcast(med), "pri").select(
        "pri",
        "o_orderkey",
        F.abs(2 * F.col("xc") - F.col("m2")).alias("d"),
        "n",
    )
    w_dev = Window.partitionBy("pri").orderBy("d", "o_orderkey")
    dev_ranked = dev.select(
        "pri", "d", "n", F.row_number().over(w_dev).alias("r")
    )
    mad = dev_ranked.groupBy("pri").agg(
        F.sum(F.col("d") * pick).alias("d2")
    )
    return (
        med.join(mad, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.col("n").alias("n_orders"),
            (F.col("m2").cast("double") / F.lit(200.0)).alias("median_value"),
            (F.col("d2").cast("double") / F.lit(400.0)).alias("mad_value"),
        )
    )


# ---------------------------------------------------------------------------
# A2/W1: Gini inequality coefficient of customer revenue per nation
# ---------------------------------------------------------------------------


@register(
    "inequality_gini_by_nation",
    oracle="""
        WITH rev AS (
            SELECT n_name AS nation, c_custkey,
                   SUM(CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100
                            AS BIGINT)) AS xc
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT nation, xc,
                   CAST(row_number() OVER (PARTITION BY nation
                                           ORDER BY xc, c_custkey)
                        AS HUGEINT) AS i
            FROM rev
        ),
        m AS (
            SELECT nation,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(xc AS HUGEINT)) AS sx,
                   SUM(i * CAST(xc AS HUGEINT)) AS six
            FROM ranked GROUP BY nation
        )
        SELECT nation, CAST(n AS BIGINT) AS n_customers,
               CAST(sx AS DOUBLE) / 100.0 AS total_revenue,
               CAST(2 * six - (n + 1) * sx AS DOUBLE)
                   / CAST(n * sx AS DOUBLE) AS gini
        FROM m
    """,
    survey_ids=("A2", "W1", "A3"),
)
def inequality_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each nation
    (0 = perfectly equal, →1 = one customer holds everything) — the
    revenue-concentration risk metric one level finer than the
    supplier HHI (Gini weighs the whole Lorenz curve, HHI only
    squared shares).  Customers without orders are out of frame (the
    rev CTE is the population).

    Exact rank form G = (2·Σi·x − (n+1)·Σx) / (n·Σx) with ascending
    ranks made total by the customer key: every sum is an exact
    DECIMAL(38)/HUGEINT, one double division at the end.  Plan: fact
    collapses to one row per customer (hash agg), the per-nation rank
    runs over the customer DIMENSION — same shape as the Pareto ABC
    query, fact-scan-sized shuffle never reaches the window.
    """
    orders = lake.load_table(spark, "orders", sf_dir)
    customer = lake.load_table(spark, "customer", sf_dir)
    nation = lake.load_table(spark, "nation", sf_dir)
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast(
                    "bigint"
                )
            ).alias("xc")
        )
    )
    w_rank = Window.partitionBy("nation").orderBy("xc", "c_custkey")
    ranked = rev.select(
        "nation",
        "xc",
        F.row_number().over(w_rank).cast("decimal(38,0)").alias("i"),
    )
    xc_dec = F.col("xc").cast("decimal(38,0)")
    m = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xc_dec).alias("sx"),
        F.sum(F.col("i") * xc_dec).alias("six"),
    )
    return m.select(
        "nation",
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("sx").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
            / (F.col("n") * F.col("sx")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# A8/W2: trimmed mean (rank-based winsorization bounds)
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # trim this percent of rows from EACH tail


@register(
    "robust_trimmed_mean_order_value",
    oracle=f"""
        WITH cents AS (
            SELECT o_orderpriority AS pri, o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                       AS xc
            FROM orders
        ),
        ranked AS (
            SELECT pri, xc,
                   row_number() OVER (PARTITION BY pri ORDER BY xc,
                                      o_orderkey) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY pri) AS BIGINT) AS n
            FROM cents
        )
        SELECT pri AS o_orderpriority,
               MAX(n) AS n_orders,
               CAST(SUM(CAST(xc AS HUGEINT)) AS DOUBLE)
                   / (CAST(MAX(n) AS DOUBLE) * 100.0) AS mean_value,
               CAST(SUM(CASE WHEN r > (n * {_TRIM_PCT}) // 100
                              AND r <= n - (n * {_TRIM_PCT}) // 100
                             THEN CAST(xc AS HUGEINT) ELSE 0 END) AS DOUBLE)
                   / (CAST(SUM(CASE WHEN r > (n * {_TRIM_PCT}) // 100
                                     AND r <= n - (n * {_TRIM_PCT}) // 100
                                    THEN 1 ELSE 0 END) AS DOUBLE) * 100.0)
                   AS trimmed_mean_value
        FROM ranked GROUP BY pri
    """,
    survey_ids=("A8", "W2", "A5"),
)
def robust_trimmed_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-per-tail trimmed mean of order value per priority, next to
    the plain mean — the robust central-tendency readout that ignores
    promo outliers and fat-finger amounts.  Trim bounds are RANK
    cutoffs (r in (k, n−k], k = ⌊n·5/100⌋ — pure integer arithmetic,
    truncating division is floor for positive n on both engines), so
    membership is exact; sums stay integer cents to one double
    division.  Plan: one per-group rank window then a conditional
    agg — no second pass, no percentile interpolation anywhere.
    """
    _, ranked = _priority_cents_ranked(spark, sf_dir)
    k = F.expr(f"(n * {_TRIM_PCT}) div 100")
    keep = (F.col("r") > k) & (F.col("r") <= F.col("n") - k)
    xc_dec = F.col("xc").cast("decimal(38,0)")
    return ranked.groupBy("pri").agg(
        F.max("n").alias("n_orders"),
        (
            F.sum(xc_dec).cast("double")
            / (F.max("n").cast("double") * F.lit(100.0))
        ).alias("mean_value"),
        (
            F.sum(F.when(keep, xc_dec).otherwise(F.lit(0).cast("decimal(38,0)")))
            .cast("double")
            / (
                F.sum(F.when(keep, 1).otherwise(0)).cast("double")
                * F.lit(100.0)
            )
        ).alias("trimmed_mean_value"),
    ).select(
        F.col("pri").alias("o_orderpriority"),
        "n_orders",
        "mean_value",
        "trimmed_mean_value",
    )

# ---------------------------------------------------------------------------
# A8/A5: IQR-fence outlier census (rank-picked quartiles)
# ---------------------------------------------------------------------------


@register(
    "robust_iqr_fence_outliers",
    oracle="""
        WITH cents AS (
            SELECT o_orderpriority AS pri, o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                       AS xc
            FROM orders
        ),
        ranked AS (
            SELECT pri, xc,
                   row_number() OVER (PARTITION BY pri ORDER BY xc,
                                      o_orderkey) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY pri) AS BIGINT) AS n
            FROM cents
        ),
        q AS (
            SELECT pri, MAX(n) AS n,
                   SUM(CASE WHEN r = (n + 3) // 4 THEN xc ELSE 0 END) AS q1,
                   SUM(CASE WHEN r = (3 * n + 3) // 4 THEN xc ELSE 0 END)
                       AS q3
            FROM ranked GROUP BY pri
        )
        SELECT c.pri AS o_orderpriority,
               MAX(q.n) AS n_orders,
               CAST(MAX(q.q1) AS DOUBLE) / 100.0 AS q1_value,
               CAST(MAX(q.q3) AS DOUBLE) / 100.0 AS q3_value,
               CAST(MAX(2 * q.q3 + 3 * (q.q3 - q.q1)) AS DOUBLE) / 200.0
                   AS upper_fence,
               CAST(SUM(CASE WHEN 2 * c.xc > 2 * q.q3 + 3 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(MAX(c.xc) AS DOUBLE) / 100.0 AS max_value
        FROM cents c JOIN q ON c.pri = q.pri
        GROUP BY c.pri
    """,
    survey_ids=("A8", "A5", "W2"),
)
def robust_iqr_fence_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier census per order priority: Q1/Q3 picked
    as exact order statistics (rank ⌈n/4⌉ and ⌈3n/4⌉ — type-1
    quantiles, no interpolation), upper fence Q3 + 1.5·IQR, and the
    count of orders beyond it — the box-plot screen for anomalous
    amounts, completing the robust family next to median/MAD and the
    trimmed mean.

    Determinism: the fence comparison is doubled through (2x > 2·Q3 +
    3·(Q3−Q1)) so the 1.5 multiplier never leaves integer cents; one
    double division per display column.  Plan: the shared rank window
    (see :func:`_priority_cents_ranked`'s shape), a 5-row quartile
    frame broadcast back onto the cents scan, one conditional agg.
    """
    cents, ranked = _priority_cents_ranked(spark, sf_dir)
    q1_pick = F.when(F.col("r") == F.expr("(n + 3) div 4"), F.col("xc")).otherwise(
        F.lit(0)
    )
    q3_pick = F.when(
        F.col("r") == F.expr("(3 * n + 3) div 4"), F.col("xc")
    ).otherwise(F.lit(0))
    q = ranked.groupBy("pri").agg(
        F.max("n").alias("n"),
        F.sum(q1_pick).alias("q1"),
        F.sum(q3_pick).alias("q3"),
    )
    fence2 = 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
    return (
        cents.join(F.broadcast(q), "pri")
        .groupBy("pri")
        .agg(
            F.max("n").alias("n_orders"),
            (F.max("q1").cast("double") / F.lit(100.0)).alias("q1_value"),
            (F.max("q3").cast("double") / F.lit(100.0)).alias("q3_value"),
            (F.max(fence2).cast("double") / F.lit(200.0)).alias("upper_fence"),
            F.sum(F.when(2 * F.col("xc") > fence2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            (F.max("xc").cast("double") / F.lit(100.0)).alias("max_value"),
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_orders",
            "q1_value",
            "q3_value",
            "upper_fence",
            "n_outliers",
            "max_value",
        )
    )


# Poisson(1) inverse-CDF cutoffs as exact u32 integers: w = k iff
# u32 < _POIS_CUTS[k] (first match), else 7.  Precomputed from the pmf
# once; inlined into BOTH engines so the bootstrap weights are a pure
# function of (o_orderkey, replica) — no RNG, no float thresholds.
_POIS_CUTS = (1580030168, 3160060337, 3950075421, 4213413783,
              4279248373, 4292415291, 4294609777)
_B_REPS = 32


def _pois_w_sql(u32_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u32_expr} < {c} THEN {k}" for k, c in enumerate(_POIS_CUTS)
    )
    return f"(CASE {branches} ELSE 7 END)"


@register(
    "stats_bootstrap_ci_order_value",
    oracle=f"""
        WITH xc AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                     AS xc
            FROM orders
        ),
        expl AS (
            SELECT xc,
                   md5(CAST(o_orderkey AS VARCHAR) || '|'
                       || CAST(g.g AS VARCHAR)) AS h,
                   g.g
            FROM xc, (SELECT unnest(range(0, {_B_REPS} // 4)) AS g) g
        ),
        wtd AS (
            SELECT g.g * 4 + lane.l AS b, xc,
                   {_pois_w_sql("('0x' || substr(h, 1 + 8 * lane.l, 8))::BIGINT")}
                     AS w
            FROM expl g, (SELECT unnest(range(0, 4)) AS l) lane
        ),
        reps AS (
            SELECT b,
                   CAST(SUM(w * xc) AS BIGINT) AS sum_wx,
                   CAST(SUM(w) AS BIGINT) AS sum_w,
                   CAST(SUM(xc) AS BIGINT) AS sum_x,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM wtd GROUP BY b
        ),
        ranked AS (
            SELECT sum_wx // sum_w AS m, sum_x, cnt,
                   row_number() OVER (ORDER BY sum_wx // sum_w, b) AS r
            FROM reps
        )
        SELECT CAST(MAX(cnt) AS BIGINT) AS n_orders,
               CAST({_B_REPS} AS BIGINT) AS n_replicas,
               CAST(MAX(sum_x) // MAX(cnt) AS BIGINT) AS mean_cents,
               CAST(MAX(CASE WHEN r = 2 THEN m END) AS BIGINT) AS ci_lo_cents,
               CAST(MAX(CASE WHEN r = {_B_REPS - 1} THEN m END) AS BIGINT)
                 AS ci_hi_cents
        FROM ranked
    """,
    survey_ids=("A1", "F4", "F9"),
)
def stats_bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling the
    data B times, each row gets a deterministic Poisson(1) weight per
    replica, so all 32 replica means come out of ONE pass — an explode
    to (row, b) and a 32-group map-side-combinable sum, no data
    duplication, no shuffle of the input.

    Everything is integer: order values as exact cents, weights from
    md5-u32 against precomputed inverse-CDF cutoffs (no RNG, no float
    thresholds), replica means by BIGINT division, and the ~93.75% CI
    as the rank-2 / rank-31 replica means (exact order statistics of
    32 rows).  The DuckDB oracle replays every step bit-for-bit."""
    orders = lake.load_table(spark, "orders", sf_dir)
    xc = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(13,2)") * 100)
        .cast("bigint")
        .alias("xc"),
    )
    # hash-lane extraction: ONE md5 per (row, replica-group) yields FOUR
    # independent u32 lanes from hex offsets 1/9/17/25 — 8 md5 calls per
    # row instead of 32 (measured ~30% on the whole query at sf0.1).
    expl = xc.select(
        "o_orderkey",
        "xc",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS // 4 - 1))).alias("g"),
    ).select(
        "xc",
        "g",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("g").cast("string"),
            )
        ).alias("h"),
    )

    def _w(u32):
        w = F.lit(7)
        for k in range(len(_POIS_CUTS) - 1, -1, -1):
            w = F.when(u32 < _POIS_CUTS[k], F.lit(k)).otherwise(w)
        return w

    lanes = F.array(
        *[
            F.struct(
                (F.col("g") * 4 + lane).alias("b"),
                _w(
                    F.conv(
                        F.substring(F.col("h"), 1 + 8 * lane, 8), 16, 10
                    ).cast("long")
                ).alias("w"),
            )
            for lane in range(4)
        ]
    )
    wtd = expl.select("xc", F.explode(lanes).alias("p")).select(
        "xc", F.col("p.b").alias("b"), F.col("p.w").alias("w")
    )
    reps = wtd.groupBy("b").agg(
        F.sum(F.col("w").cast("long") * F.col("xc")).cast("long").alias("sum_wx"),
        F.sum("w").cast("long").alias("sum_w"),
        F.sum("xc").cast("long").alias("sum_x"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    ranked = reps.select(
        F.expr("sum_wx DIV sum_w").alias("m"),
        "sum_x",
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.expr("sum_wx DIV sum_w"), "b"))
        .alias("r"),
    )
    return ranked.agg(
        F.max("cnt").cast("long").alias("n_orders"),
        F.lit(_B_REPS).cast("long").alias("n_replicas"),
        F.expr("CAST(MAX(sum_x) DIV MAX(cnt) AS BIGINT)").alias("mean_cents"),
        F.max(F.when(F.col("r") == 2, F.col("m"))).cast("long").alias("ci_lo_cents"),
        F.max(F.when(F.col("r") == _B_REPS - 1, F.col("m")))
        .cast("long")
        .alias("ci_hi_cents"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
        WITH labeled AS (
            SELECT CAST(CAST(o.o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                     AS xc,
                   CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS s
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        per_v AS (
            SELECT xc,
                   CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
            FROM labeled GROUP BY xc
        ),
        cum AS (
            SELECT xc,
                   SUM(d1) OVER (ORDER BY xc) AS c1,
                   SUM(d2) OVER (ORDER BY xc) AS c2
            FROM per_v
        ),
        n AS (
            SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2
            FROM per_v
        )
        SELECT n.n1, n.n2,
               CAST(MAX(abs(n.n2 * cum.c1 - n.n1 * cum.c2)) AS BIGINT)
                 AS d_num,
               CAST(MAX(abs(n.n2 * cum.c1 - n.n1 * cum.c2)) * 1000000
                    // (n.n1 * n.n2) AS BIGINT) AS d_ppm,
               (CAST(MAX(abs(n.n2 * cum.c1 - n.n1 * cum.c2)) AS HUGEINT)
                  * CAST(MAX(abs(n.n2 * cum.c1 - n.n1 * cum.c2)) AS HUGEINT)
                  * 10000
                > 18442 * CAST(n.n1 AS HUGEINT) * n.n2 * (n.n1 + n.n2))
                 AS reject_5pct
        FROM cum, n
        GROUP BY n.n1, n.n2
    """,
    survey_ids=("A1", "A5", "W1"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test between the BUILDING and
    MACHINERY segments' order-value distributions, computed as an
    EXACT integer rank statistic: D = max |F1 - F2| is carried as
    ``d_num = max |n2*c1 - n1*c2|`` over the pooled distinct values
    (one hash agg + one cumulative window — no sort of raw rows, no
    floats), and the 5% decision compares d_num² against the
    Smirnov critical value with both sides scaled to integers
    (1.358² → 18442/10000), evaluated in 38-digit exact arithmetic
    so the product can't overflow at any SF.  The distribution-drift
    gate of a data pipeline: rank-based, so it sees shape changes
    chi-square binning misses.

    Scale note (rewired in r07 — VERDICT r06 "What's wrong" #2): the
    cumulative pass runs through
    ``operators/scale.ordered_prefix_sums`` — range-partition the
    distinct-value spine, per-partition partial sums, driver-prefix-
    summed offsets shipped back as plan literals, per-partition
    cumulative window — so NO single-task WindowExec exists anywhere
    in the plan and parallelism is decoupled from the spine size.  The
    totals n1/n2 fall out of the collected partials as free literal
    columns; the statistic itself (max of per-value integers) is a
    plain map-side-combinable agg over the distributed c1/c2."""
    from end_end_data_pipeline__spark.operators.scale import (
        ordered_prefix_sums,
    )

    orders = lake.load_table(spark, "orders", sf_dir)
    cust = lake.load_table(spark, "customer", sf_dir)
    labeled = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100)
            .cast("bigint")
            .alias("xc"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(2)
            .alias("s"),
        )
    )
    per_v = labeled.groupBy("xc").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("s") == 2, 1).otherwise(0)).cast("long").alias("d2"),
    )
    cum = ordered_prefix_sums(
        per_v, ["xc"], ["d1", "d2"], with_totals=True
    ).select(
        F.col("__cum_d1").alias("c1"),
        F.col("__cum_d2").alias("c2"),
        F.col("__tot_d1").alias("tn1"),
        F.col("__tot_d2").alias("tn2"),
    )
    stats = cum.agg(
        F.max("tn1").cast("long").alias("n1"),
        F.max("tn2").cast("long").alias("n2"),
        F.max(F.abs(F.col("tn2") * F.col("c1") - F.col("tn1") * F.col("c2")))
        .cast("long")
        .alias("d_num"),
    )
    return stats.select(
        "n1",
        "n2",
        "d_num",
        F.expr("CAST(d_num * 1000000 DIV (n1 * n2) AS BIGINT)").alias("d_ppm"),
        F.expr(
            "CAST(d_num AS DECIMAL(38,0)) * CAST(d_num AS DECIMAL(38,0)) * 10000"
            " > CAST(18442 AS DECIMAL(38,0)) * n1 * n2 * (n1 + n2)"
        ).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U / exact AUC (rank-based two-sample effect size)
# ---------------------------------------------------------------------------

@register(
    "stats_mannwhitney_auc",
    oracle="""
        WITH labeled AS (
            SELECT CAST(CAST(o.o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                     AS xc,
                   CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS s
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        per_v AS (
            SELECT xc,
                   CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
            FROM labeled GROUP BY xc
        ),
        cum AS (
            SELECT d1, d2, SUM(d2) OVER (ORDER BY xc) AS c2
            FROM per_v
        )
        SELECT CAST(SUM(d1) AS BIGINT) AS n1,
               CAST(SUM(d2) AS BIGINT) AS n2,
               CAST(SUM(d1 * (2 * c2 - d2)) AS BIGINT) AS u2_num,
               CAST(SUM(d1 * (2 * c2 - d2)) * 500000
                    // (SUM(d1) * SUM(d2)) AS BIGINT) AS auc_ppm,
               CAST((SUM(d1 * (2 * c2 - d2)) - SUM(d1) * SUM(d2)) * 1000000
                    // (SUM(d1) * SUM(d2)) AS BIGINT) AS rank_biserial_ppm
        FROM cum
    """,
    survey_ids=("A1", "A5", "W1"),
)
def stats_mannwhitney_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / exact AUC between the BUILDING and MACHINERY
    segments' order-value distributions — the rank-based effect size
    (P(X1 > X2) + ½P(X1 = X2)) that scores a binary separator without
    any distributional assumption, and the standard offline metric for
    "does this feature separate the classes".

    Exact-integer contract: over the DISTINCT pooled values with
    per-group counts (d1, d2) and the group-2 cumulative c2, twice the
    tie-corrected U statistic is ``u2_num = Σ d1·(2·c2 − d2)`` — pure
    BIGINT, no average-rank fractions — and AUC = u2_num / (2·n1·n2)
    is reported in fixed-point ppm (floor), with the rank-biserial
    correlation (2·AUC − 1) alongside.  Both engines run the identical
    integer expression tree, so the hash check is bit-exact.

    Plan shape (rewired in r07 — VERDICT r06 "What's wrong" #2): one
    equi-join, one hash agg to distinct values (map-side combinable),
    then the cumulative c2 through
    ``operators/scale.ordered_prefix_sums`` — range-partitioned spine,
    per-partition partials, driver prefix offsets as plan literals,
    per-partition cumsum — so NO single-task WindowExec over the
    distinct-value spine; the final reduction is one plain agg.
    Overflow headroom: u2_num ≤ 2·n1·n2, and u2_num·500000 stays under
    2⁶³ to n1·n2 ≈ 9.2e12 — past that, widen to DECIMAL(38,0).
    """
    from end_end_data_pipeline__spark.operators.scale import (
        ordered_prefix_sums,
    )

    orders = lake.load_table(spark, "orders", sf_dir)
    cust = lake.load_table(spark, "customer", sf_dir)
    labeled = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100)
            .cast("bigint")
            .alias("xc"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(2)
            .alias("s"),
        )
    )
    per_v = labeled.groupBy("xc").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("s") == 2, 1).otherwise(0)).cast("long").alias("d2"),
    )
    cum = ordered_prefix_sums(per_v, ["xc"], ["d2"]).select(
        "d1", "d2", F.col("__cum_d2").alias("c2")
    )
    return cum.agg(
        F.sum("d1").cast("long").alias("n1"),
        F.sum("d2").cast("long").alias("n2"),
        F.sum(F.col("d1") * (2 * F.col("c2") - F.col("d2")))
        .cast("long")
        .alias("u2_num"),
    ).select(
        "n1",
        "n2",
        "u2_num",
        F.expr("CAST(u2_num * 500000 DIV (n1 * n2) AS BIGINT)").alias(
            "auc_ppm"
        ),
        F.expr(
            "CAST((u2_num - n1 * n2) * 1000000 DIV (n1 * n2) AS BIGINT)"
        ).alias("rank_biserial_ppm"),
    )


# ---------------------------------------------------------------------------
# Decile lift / cumulative gains (model-scoring evaluation table)
# ---------------------------------------------------------------------------

@register(
    "ml_decile_lift",
    oracle="""
        WITH scored AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                     AS xc,
                   o_orderkey,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                     AS label
            FROM orders
        ),
        deciled AS (
            SELECT ntile(10) OVER (ORDER BY xc DESC, o_orderkey) AS decile,
                   label
            FROM scored
        ),
        per AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(label) AS BIGINT) AS pos
            FROM deciled GROUP BY decile
        ),
        cum AS (
            SELECT decile, n, pos,
                   SUM(n) OVER (ORDER BY decile) AS cum_n,
                   SUM(pos) OVER (ORDER BY decile) AS cum_pos,
                   SUM(n) OVER () AS tot_n,
                   SUM(pos) OVER () AS tot_pos
            FROM per
        )
        SELECT decile, n, pos,
               CAST(pos * 1000000 // n AS BIGINT) AS rate_ppm,
               CAST(cum_n AS BIGINT) AS cum_n,
               CAST(cum_pos AS BIGINT) AS cum_pos,
               CAST(CAST(cum_pos AS HUGEINT) * tot_n * 1000000
                    // (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT)
                 AS cum_lift_ppm,
               CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS gain_ppm
        FROM cum
        ORDER BY decile
    """,
    survey_ids=("W5", "W1", "A5"),
)
def ml_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table — THE offline evaluation
    artifact for a propensity model: rank the population by score
    (order value, standing in for a model score), cut into 10 equal
    deciles, and report per-decile response rate, cumulative lift over
    the base rate, and cumulative gain (% of all positives captured).
    Label = urgent-priority order.

    Determinism: the ntile ORDER BY carries the unique o_orderkey
    tie-break (both engines fill the first ``n mod 10`` buckets one
    larger, so identical ordering ⇒ identical buckets); every rate is
    fixed-point ppm floor division; the lift numerator/denominator run
    in 128-bit (HUGEINT / DECIMAL(38,0)) so cum_pos·tot_n·10⁶ cannot
    overflow at any SF.

    Plan shape (rewired in r07 — VERDICT r06 "What's wrong" #2): the
    exact population decile cut runs through
    ``operators/scale.global_ntile`` — range-partition on the score
    order, per-partition counts, driver-prefix-summed rank offsets as
    plan literals, local row_number + the arithmetic ntile formula —
    bit-identical buckets to the window ``ntile`` with NO single-task
    sort of the fact table.  The descending score order is carried as
    a negated integer column (total order: (−xc, o_orderkey)), which
    keeps the range partitioner on plain ascending longs.  Everything
    after the cut is two tiny hash aggs and a 10-row window."""
    from end_end_data_pipeline__spark.operators.scale import global_ntile

    orders = lake.load_table(spark, "orders", sf_dir)
    scored = orders.select(
        (F.col("o_totalprice").cast("decimal(13,2)") * 100)
        .cast("bigint")
        .alias("xc"),
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("label"),
    )
    deciled = global_ntile(
        scored.withColumn("negxc", -F.col("xc")),
        ["negxc", "o_orderkey"],
        10,
        bucket_name="decile",
    ).select("decile", "label")
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("pos").over(wc).alias("cum_pos"),
        F.sum("n").over(wt).alias("tot_n"),
        F.sum("pos").over(wt).alias("tot_pos"),
    )
    return cum.select(
        "decile",
        "n",
        "pos",
        F.expr("CAST(pos * 1000000 DIV n AS BIGINT)").alias("rate_ppm"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.expr(
            "CAST(CAST(cum_pos AS DECIMAL(38,0)) * tot_n * 1000000"
            " DIV (CAST(cum_n AS DECIMAL(38,0)) * tot_pos) AS BIGINT)"
        ).alias("cum_lift_ppm"),
        F.expr("CAST(cum_pos * 1000000 DIV tot_pos AS BIGINT)").alias(
            "gain_ppm"
        ),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Interval sweep-line: peak concurrent in-transit shipments per nation
# ---------------------------------------------------------------------------

@register(
    "interval_peak_concurrency",
    oracle="""
        WITH iv AS (
            SELECT n.n_name AS nation,
                   CAST(l.l_shipdate AS DATE) AS ship_d,
                   CAST(l.l_shipdate AS DATE)
                     + ((l.l_orderkey * 3 + l.l_linenumber) % 14 + 1)
                       * INTERVAL 1 DAY AS end_d
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        ),
        ev AS (
            SELECT nation, ship_d AS d, 1 AS delta FROM iv
            UNION ALL
            SELECT nation, CAST(end_d AS DATE) AS d, -1 AS delta FROM iv
        ),
        net AS (
            SELECT nation, d, CAST(SUM(delta) AS BIGINT) AS net
            FROM ev GROUP BY nation, d
        ),
        conc AS (
            SELECT nation, d,
                   SUM(net) OVER (PARTITION BY nation ORDER BY d) AS conc
            FROM net
        ),
        peak AS (
            SELECT nation, MAX(conc) AS peak FROM conc GROUP BY nation
        ),
        firstd AS (
            SELECT c.nation, MIN(c.d) AS peak_d
            FROM conc c JOIN peak p
              ON c.nation = p.nation AND c.conc = p.peak
            GROUP BY c.nation
        ),
        cnt AS (
            SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_shipments
            FROM iv GROUP BY nation
        )
        SELECT cnt.nation, cnt.n_shipments,
               CAST(p.peak AS BIGINT) AS peak_in_transit,
               strftime(f.peak_d, '%Y-%m-%d') AS peak_first_day
        FROM cnt
        JOIN peak p ON cnt.nation = p.nation
        JOIN firstd f ON cnt.nation = f.nation
        ORDER BY cnt.nation
    """,
    survey_ids=("W1", "J5", "A6"),
)
def interval_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent in-transit shipments per supplier nation — the
    classic interval sweep-line (gaps-and-islands sibling): each
    shipment occupies [ship_date, ship_date + transit) where transit
    days derive deterministically from the line keys; +1/−1 boundary
    events are bucketed per day, and ONE cumulative window per nation
    turns net deltas into the concurrency curve, whose max and argmax
    (first day) are reported.  Capacity planning / anomaly surface:
    "how many trucks does each nation need at once".

    Scale shape: the sweep never materializes interval×day rows — the
    event list is 2 rows per shipment, collapsed by a map-side-
    combinable hash agg to one row per (nation, day) BEFORE the
    window, so the cumsum runs over ~25 nations × ~2.4k days regardless
    of SF.  Peak + argmax are two tiny hash aggs plus an equi-join on
    the 25-row peak frame (broadcast).  No driver state, no UDFs."""
    li = lake.load_table(spark, "lineitem", sf_dir)
    sup = lake.load_table(spark, "supplier", sf_dir)
    nat = lake.load_table(spark, "nation", sf_dir)
    iv = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.to_date("l_shipdate").alias("ship_d"),
            F.date_add(
                F.to_date("l_shipdate"),
                ((F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 14 + 1)
                .cast("int"),
            ).alias("end_d"),
        )
    )
    ev = iv.select(
        "nation", F.col("ship_d").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "nation", F.col("end_d").alias("d"), F.lit(-1).alias("delta")
        )
    )
    net = ev.groupBy("nation", "d").agg(
        F.sum("delta").cast("long").alias("net")
    )
    wc = (
        Window.partitionBy("nation")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    conc = net.select("nation", "d", F.sum("net").over(wc).alias("conc"))
    peak = conc.groupBy("nation").agg(F.max("conc").alias("peak"))
    peak_r = peak.select(
        F.col("nation").alias("pn"), F.col("peak")
    )
    firstd = (
        conc.join(
            F.broadcast(peak_r),
            on=[
                F.col("nation") == F.col("pn"),
                F.col("conc") == F.col("peak"),
            ],
        )
        .groupBy("nation")
        .agg(F.min("d").alias("peak_d"))
        .select(F.col("nation").alias("fn"), "peak_d")
    )
    cnt = iv.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_shipments")
    )
    return (
        cnt.join(peak_r, F.col("nation") == F.col("pn"))
        .join(firstd, F.col("nation") == F.col("fn"))
        .select(
            "nation",
            "n_shipments",
            F.col("peak").cast("long").alias("peak_in_transit"),
            F.date_format("peak_d", "yyyy-MM-dd").alias("peak_first_day"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast error (lag-7 baseline, the forecasting floor)
# ---------------------------------------------------------------------------

@register(
    "forecast_seasonal_naive_error",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        paired AS (
            SELECT a.d, a.cents AS actual, f.cents AS forecast
            FROM daily a
            JOIN daily f ON f.d = a.d - 7 * INTERVAL 1 DAY
        ),
        err AS (
            SELECT strftime(d, '%Y-%m') AS month,
                   abs(actual - forecast) AS abs_err,
                   abs(actual - forecast) * 2000000
                     // (actual + forecast) AS smape_ppm
            FROM paired
        )
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err_cents,
               CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mae_cents,
               CAST(SUM(smape_ppm) // COUNT(*) AS BIGINT) AS smape_ppm
        FROM err
        GROUP BY month
        ORDER BY month
    """,
    survey_ids=("A6", "F6", "J7"),
)
def forecast_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast error of daily order revenue,
    reported per month as MAE (cents) and sMAPE (ppm) — the baseline
    every real forecasting model must beat, and the drift monitor for
    "did this week look like last week".  The forecast for day d is
    the actual of day d−7, paired by a DATE equi-join (not a row-lag
    window) so calendar gaps pair correctly instead of sliding to the
    previous present row.

    Exact integers end-to-end: daily revenue is exact cents, per-day
    sMAPE is fixed-point floor((|a−f|·2·10⁶)/(a+f)), and monthly
    roll-ups are integer sums/floors — bit-identical across engines.

    Scale shape: one scan → one hash agg to the daily spine (bounded:
    days, not rows), a self equi-join on date (broadcastable — the
    spine is tiny at any SF), one final hash agg per month."""
    orders = lake.load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast(
                "bigint"
            )
        )
        .cast("long")
        .alias("cents"),
    )
    a = daily.alias("a")
    f_ = daily.alias("f")
    paired = a.join(
        f_, F.col("f.d") == F.date_sub(F.col("a.d"), 7)
    ).select(
        F.col("a.d").alias("d"),
        F.col("a.cents").alias("actual"),
        F.col("f.cents").alias("forecast"),
    )
    err = paired.select(
        F.date_format("d", "yyyy-MM").alias("month"),
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
        F.expr(
            "abs(actual - forecast) * 2000000 DIV (actual + forecast)"
        ).alias("smape_ppm"),
    )
    return (
        err.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("abs_err").cast("long").alias("sum_abs_err_cents"),
            F.expr("CAST(SUM(abs_err) DIV COUNT(*) AS BIGINT)").alias(
                "mae_cents"
            ),
            F.expr("CAST(SUM(smape_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "smape_ppm"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Autocorrelation function at lags 1..14 (exact multiply-through)
# ---------------------------------------------------------------------------

@register(
    "timeseries_acf_lags",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        dev AS (
            SELECT d,
                   CAST(COUNT(*) OVER () AS BIGINT) * x
                     - CAST(SUM(x) OVER () AS BIGINT) AS dv
            FROM daily
        ),
        den AS (
            SELECT SUM(CAST(dv AS HUGEINT) * dv) AS den FROM dev
        ),
        lagged AS (
            SELECT l.lag, t.d, t.dv AS dv_t, p.dv AS dv_p
            FROM dev t
            CROSS JOIN (SELECT unnest(range(1, 15)) AS lag) l
            JOIN dev p ON p.d = t.d - l.lag * INTERVAL 1 DAY
        )
        SELECT lg.lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(dv_t AS HUGEINT) * dv_p) * 1000000
                    // (SELECT den FROM den) AS BIGINT) AS acf_ppm
        FROM lagged lg
        GROUP BY lg.lag
        ORDER BY lg.lag
    """,
    survey_ids=("A6", "W1", "F13"),
)
def timeseries_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order revenue at lags 1–14 days — the
    seasonality detector that tells a forecasting pipeline which lag
    features matter (a weekly cycle shows as a lag-7/14 ridge).

    Exact multiply-through contract: with n days and S = Σx, the
    centered deviation is carried as the INTEGER n·x − S (never the
    fractional x − mean), so the numerator Σ dv_t·dv_{t−k} and
    denominator Σ dv² are exact 128-bit integers on both engines and
    acf_ppm = floor(10⁶·num/den) is bit-identical; the common n²
    factor cancels in the ratio.  Pairs join by calendar DATE (gap-
    safe), lags fan out via a 14-element explode.

    Scale shape: one scan → hash agg to the daily spine; deviations
    and the denominator ride ONE global window over the spine (days,
    not rows — bounded at any SF); the lag fan-out is spine × 14
    joined back to the spine (broadcastable).  The expensive part of
    ACF at 100 TB is the daily agg, which is map-side combinable."""
    orders = lake.load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast(
                "bigint"
            )
        )
        .cast("long")
        .alias("x"),
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dev = daily.select(
        "d",
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("x")
            - F.sum("x").over(wt).cast("long")
        ).alias("dv"),
    )
    den = dev.select(
        F.sum(F.expr("CAST(dv AS DECIMAL(38,0)) * dv")).alias("den"),
        F.lit(1).alias("k"),
    )
    t = dev.select(
        F.explode(F.array(*[F.lit(i) for i in range(1, 15)])).alias("lag"),
        F.col("d"),
        F.col("dv").alias("dv_t"),
    )
    p = dev.select(F.col("d").alias("pd"), F.col("dv").alias("dv_p"))
    lagged = t.join(
        p, F.col("pd") == F.expr("date_sub(d, lag)")
    )
    num = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.expr("CAST(dv_t AS DECIMAL(38,0)) * dv_p")).alias("num"),
    )
    return (
        num.withColumn("k", F.lit(1))
        .join(F.broadcast(den), "k")
        .select(
            "lag",
            "n_pairs",
            F.expr("CAST(num * 1000000 DIV den AS BIGINT)").alias(
                "acf_ppm"
            ),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# XmR individuals control chart (SPC limit + run-rule signals)
# ---------------------------------------------------------------------------

@register(
    "control_chart_xmr_signals",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        mr AS (
            SELECT d, x,
                   abs(x - lag(x) OVER (ORDER BY d)) AS mr
            FROM daily
        ),
        st AS (
            SELECT d, x,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   CAST(SUM(x) OVER () AS BIGINT) AS sx,
                   CAST(SUM(mr) OVER () AS BIGINT) AS smr
            FROM mr
        ),
        lim AS (
            SELECT d, x,
                   CASE WHEN n * x > sx THEN 'limit_above'
                        ELSE 'limit_below' END AS signal
            FROM st
            WHERE CAST(100 AS HUGEINT) * (n - 1) * abs(n * x - sx)
                  > CAST(266 AS HUGEINT) * n * smr
        ),
        signed AS (
            SELECT d, x,
                   CASE WHEN n * x > sx THEN 1 ELSE 0 END AS above
            FROM st
        ),
        runs AS (
            SELECT d, x, above,
                   SUM(above) OVER (ORDER BY d
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS s8,
                   COUNT(*) OVER (ORDER BY d
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c8
            FROM signed
        ),
        runsig AS (
            SELECT d, x,
                   CASE WHEN s8 = 8 THEN 'run8_above'
                        ELSE 'run8_below' END AS signal
            FROM runs WHERE c8 = 8 AND (s8 = 8 OR s8 = 0)
        )
        SELECT strftime(d, '%Y-%m-%d') AS day, x AS cents, signal
        FROM (SELECT * FROM lim UNION ALL SELECT * FROM runsig)
        ORDER BY day, signal
    """,
    survey_ids=("W1", "W3", "A6"),
)
def control_chart_xmr_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals / moving-range) control chart over daily order
    revenue — the SPC monitor of a data pipeline's throughput: flags
    days outside the x̄ ± 2.66·mR̄ natural-process limits, plus the
    Western-Electric run rule (8 consecutive days on one side of the
    center line — a drift too small for the limits but too long for
    chance).

    Exact-integer contract: the limit test |x − S/n| > 2.66·MR/(n−1)
    is cross-multiplied to 100·(n−1)·|n·x − S| > 266·n·MR in 128-bit
    integers (2.66 = 266/100 exactly), and the center-line side is the
    exact comparison n·x > S — no division, no doubles, bit-identical
    on both engines.

    Scale shape: one scan → hash agg to the daily spine; the lag,
    global stats, and 8-row run windows all ride the bounded spine
    (days, not rows).  The moving-range chart is THE monitoring
    primitive that needs no parameter tuning — limits derive from the
    data's own short-term variation."""
    orders = lake.load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast(
                "bigint"
            )
        )
        .cast("long")
        .alias("x"),
    )
    wd = Window.orderBy("d")
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mr = daily.select(
        "d", "x", F.abs(F.col("x") - F.lag("x").over(wd)).alias("mr")
    )
    st = mr.select(
        "d",
        "x",
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("x").over(wt).cast("long").alias("sx"),
        F.sum("mr").over(wt).cast("long").alias("smr"),
    )
    lim = st.filter(
        F.expr(
            "CAST(100 AS DECIMAL(38,0)) * (n - 1) * abs(n * x - sx)"
            " > CAST(266 AS DECIMAL(38,0)) * n * smr"
        )
    ).select(
        "d",
        "x",
        F.when(F.expr("n * x > sx"), "limit_above")
        .otherwise("limit_below")
        .alias("signal"),
    )
    signed = st.select(
        "d", "x", F.expr("CASE WHEN n * x > sx THEN 1 ELSE 0 END").alias("above")
    )
    w8 = Window.orderBy("d").rowsBetween(-7, 0)
    runs = signed.select(
        "d",
        "x",
        F.sum("above").over(w8).alias("s8"),
        F.count(F.lit(1)).over(w8).alias("c8"),
    )
    runsig = runs.filter(
        (F.col("c8") == 8) & ((F.col("s8") == 8) | (F.col("s8") == 0))
    ).select(
        "d",
        "x",
        F.when(F.col("s8") == 8, "run8_above")
        .otherwise("run8_below")
        .alias("signal"),
    )
    return (
        lim.unionByName(runsig)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("cents"),
            "signal",
        )
        .orderBy("day", "signal")
    )


# ---------------------------------------------------------------------------
# Interval algebra: bucketed overlap self-join + union coverage measure
# ---------------------------------------------------------------------------

_IV_SQL = """
            SELECT l_suppkey AS sk,
                   CAST(l_shipdate AS DATE) AS s,
                   CAST(CAST(l_shipdate AS DATE)
                        + ((l_orderkey * 3 + l_linenumber) % 14 + 1)
                          * INTERVAL 1 DAY AS DATE) AS e
            FROM lineitem
"""


def interval_overlap_rollup(iv: DataFrame, salt_factor: int = 1) -> DataFrame:
    """Month-bucketed interval-overlap self-join with an OPT-IN salt
    for hot (supplier, month) buckets — the reusable core behind
    ``interval_overlap_concurrent_shipments`` (see that query's
    docstring for the bucketing + multiplicity-compression argument).

    ``salt_factor`` (r08, VERDICT r07 task 4 — the knob the docstring
    used to only assert): the pair work inside one bucket is
    |A|·|B| and lands in ONE shuffle task of the (sk, month) hash
    join, so a hot supplier-month serializes the whole stage.  With
    ``salt_factor=s``, side B's rows get a row-deterministic salt
    (``xxhash64 % s``) and side A's rows are replicated to all s salt
    values (``explode(sequence(...))``), making the join key
    (sk, month, salt): each task now forms |A|·|B|/s of the bucket's
    pairs.  Every pair still forms EXACTLY once (each B row keeps one
    salt; the A replica with the matching salt is unique), so the
    output is bit-identical to the unsalted plan for any s — asserted
    by tests/test_stats.py and measured in BASELINE.md's "Round-8
    hot-bucket study" table.  The cost is
    replicating the (already multiplicity-compressed) A side s×; the
    default 1 keeps the catalog plan byte-stable.

    TZ caution: the month bucket is ``year(s)*12 + month(s)``, which
    for a TIMESTAMP column follows the SESSION timezone.  Pass
    DATE-typed ``s``/``e`` (as the catalog query does via ``to_date``)
    for timezone-invariant results, or pin
    ``spark.sql.session.timeZone``; a timestamp input still joins
    correctly (both sides bucket identically) but the rollup's day
    counts move with the zone."""
    # r12 (guide §1.2 step 1, measured via the executed adaptive plan):
    # the compressed interval table g feeds four subplans, and AQE's
    # exchange reuse only deduplicated ONE of them at runtime — the
    # fact scan + partial agg ran 3×.  Two fixes: (1) side A's
    # (month, month+1) keys come from ONE explode instead of a two-leg
    # union (one consumer fewer), and (2) g is lazily checkpointed, so
    # the remaining three consumers read the materialized compressed
    # rows instead of re-running the fact scan — exactly one pass over
    # the fact table at any scale.  Join/bucket arithmetic unchanged.
    g = iv.groupBy(
        "sk", "s", "e", (F.year("s") * 12 + F.month("s")).alias("m")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=False)
    a2 = g.select(
        "sk", "s", "e", "m", "c",
        F.explode(F.array(F.col("m"), F.col("m") + 1)).alias("k"),
    )
    b = g.select(
        F.col("sk").alias("bsk"),
        F.col("s").alias("bs"),
        F.col("e").alias("be"),
        F.col("m").alias("bm"),
        F.col("c").alias("bc"),
    )
    join_cond = (
        (F.col("sk") == F.col("bsk"))
        & (F.col("k") == F.col("bm"))
        & (
            (F.col("bm") > F.col("m"))
            | (F.col("s") < F.col("bs"))
            | ((F.col("s") == F.col("bs")) & (F.col("e") < F.col("be")))
        )
        & (F.col("s") < F.col("be"))
        & (F.col("bs") < F.col("e"))
    )
    if salt_factor > 1:
        b = b.withColumn(
            "__bsalt",
            F.pmod(F.xxhash64("bsk", "bs", "be"), F.lit(salt_factor)),
        )
        a2 = a2.withColumn(
            "__asalt",
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.lit(salt_factor - 1).cast("long"))),
        )
        join_cond = join_cond & (F.col("__asalt") == F.col("__bsalt"))
    cross_pairs = a2.join(b, join_cond).select(
        "sk",
        (F.col("c") * F.col("bc")).alias("w"),
        F.datediff(F.least("e", "be"), F.greatest("s", "bs")).alias("ov"),
    )
    within_pairs = g.filter(F.col("c") >= 2).select(
        "sk",
        F.expr("c * (c - 1) DIV 2").alias("w"),
        F.datediff("e", "s").alias("ov"),
    )
    pairs = cross_pairs.unionByName(within_pairs)
    return (
        pairs.groupBy(F.col("sk").alias("s_suppkey"))
        .agg(
            F.sum("w").cast("long").alias("n_pairs"),
            F.max("ov").cast("long").alias("max_overlap_days"),
            F.sum(F.col("w") * F.col("ov")).cast("long").alias(
                "total_overlap_days"
            ),
        )
        .orderBy("s_suppkey")
    )


@register(
    "interval_overlap_concurrent_shipments",
    oracle=f"""
        WITH iv AS ({_IV_SQL}),
        g AS (
            SELECT sk, s, e,
                   date_part('year', s) * 12 + date_part('month', s) AS m,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM iv GROUP BY sk, s, e, 4
        ),
        a2 AS (
            SELECT sk, s, e, m, c, m AS k FROM g
            UNION ALL
            SELECT sk, s, e, m, c, m + 1 AS k FROM g
        ),
        cross_pairs AS (
            SELECT a.sk, a.c * b.c AS w,
                   least(a.e, b.e) - greatest(a.s, b.s) AS ov
            FROM a2 a JOIN g b
              ON a.sk = b.sk AND a.k = b.m
             AND (b.m > a.m OR a.s < b.s OR (a.s = b.s AND a.e < b.e))
             AND a.s < b.e AND b.s < a.e
        ),
        within_pairs AS (
            SELECT sk, c * (c - 1) // 2 AS w, e - s AS ov
            FROM g WHERE c >= 2
        ),
        pairs AS (
            SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
        )
        SELECT sk AS s_suppkey,
               CAST(SUM(w) AS BIGINT) AS n_pairs,
               CAST(MAX(ov) AS BIGINT) AS max_overlap_days,
               CAST(SUM(w * ov) AS BIGINT) AS total_overlap_days
        FROM pairs
        GROUP BY sk
        ORDER BY s_suppkey
    """,
    survey_ids=("J7", "J3", "A3"),
    bench=True,  # reports as a bench EXTRA (outside the pinned-12 ratchet)
)
def interval_overlap_concurrent_shipments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval OVERLAP self-join: per supplier, every unordered pair
    of shipments whose in-transit windows intersect, aggregated to
    pair count / max / total overlap days — the workload-interference
    analysis behind the ``interval_peak_concurrency`` point statistic
    (the peak says how high; the pairs say which shipments collide
    and for how long).

    Two scale techniques compose here.  (1) MONTH-BUCKETED interval
    joining: transit is ≤ 15 days < one month, so overlapping
    intervals start in the same or adjacent months — side A is
    exploded to its (month, month+1) keys and equi-joined to side B's
    month, turning the range predicate into a hash join with a
    bounded 2× expansion; each qualifying pair matches exactly once
    (the next-month key can't reach back; same-month duplicates die
    on the canonical (s, e) order).  (2) MULTIPLICITY COMPRESSION:
    identical (supplier, start, end) intervals collapse to one row
    with count c BEFORE the join (the fixture really has duplicate
    line rows), contributing c_a·c_b per cross pair and C(c,2)
    within-group pairs — the join runs on distinct intervals, not raw
    rows.

    At 100 TB the per-(supplier, month) bucket bounds the quadratic
    fan-out; a hot supplier-month is salted via
    ``interval_overlap_rollup(iv, salt_factor=s)`` — an opt-in knob
    measured in BASELINE.md's "Round-8 hot-bucket study" table; the
    catalog entry runs unsalted (the fixture has no hot
    bucket, and salt_factor=1 keeps the locked plan byte-stable).
    """
    li = lake.load_table(spark, "lineitem", sf_dir)
    iv = li.select(
        F.col("l_suppkey").alias("sk"),
        F.to_date("l_shipdate").alias("s"),
        F.date_add(
            F.to_date("l_shipdate"),
            ((F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 14 + 1)
            .cast("int"),
        ).alias("e"),
    )
    return interval_overlap_rollup(iv, salt_factor=1)


@register(
    "interval_union_coverage_days",
    oracle=f"""
        WITH iv AS ({_IV_SQL}),
        ev AS (
            SELECT sk, s AS d, 1 AS delta FROM iv
            UNION ALL
            SELECT sk, e AS d, -1 AS delta FROM iv
        ),
        net AS (
            SELECT sk, d, CAST(SUM(delta) AS BIGINT) AS net
            FROM ev GROUP BY sk, d
        ),
        conc AS (
            SELECT sk, d,
                   SUM(net) OVER (PARTITION BY sk ORDER BY d) AS conc,
                   lead(d) OVER (PARTITION BY sk ORDER BY d) AS nxt
            FROM net
        )
        SELECT sk AS s_suppkey,
               CAST(SUM(CASE WHEN conc > 0
                             THEN date_diff('day', d, nxt)
                             ELSE 0 END) AS BIGINT) AS covered_days,
               CAST(date_diff('day', MIN(d), MAX(d)) AS BIGINT) AS span_days,
               CAST(SUM(CASE WHEN conc > 0
                             THEN date_diff('day', d, nxt)
                             ELSE 0 END) * 1000000
                    // date_diff('day', MIN(d), MAX(d)) AS BIGINT)
                 AS utilization_ppm
        FROM conc
        GROUP BY sk
        ORDER BY s_suppkey
    """,
    survey_ids=("W1", "W3", "A6"),
)
def interval_union_coverage_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION measure: per supplier, how many distinct days
    had at least one shipment in transit (the union length of the
    interval set — NOT the sum, which double-counts overlaps), the
    first-to-last span, and utilization ppm — the duty-cycle metric
    of a logistics/ops dashboard.

    Sweep-line again, but integrating the gaps: +1/−1 events collapse
    per (supplier, day); the cumulative concurrency says whether the
    segment [d, next_d) is covered; summing covered segment lengths
    gives the exact union measure in integer days.  One window per
    supplier over the bounded event spine; fixed-point ppm floor for
    utilization."""
    li = lake.load_table(spark, "lineitem", sf_dir)
    iv = li.select(
        F.col("l_suppkey").alias("sk"),
        F.to_date("l_shipdate").alias("s"),
        F.date_add(
            F.to_date("l_shipdate"),
            ((F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 14 + 1)
            .cast("int"),
        ).alias("e"),
    )
    ev = iv.select(
        "sk", F.col("s").alias("d"), F.lit(1).alias("delta")
    ).unionByName(iv.select("sk", F.col("e").alias("d"), F.lit(-1).alias("delta")))
    net = ev.groupBy("sk", "d").agg(F.sum("delta").cast("long").alias("net"))
    ws = (
        Window.partitionBy("sk")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy("sk").orderBy("d")
    conc = net.select(
        "sk",
        "d",
        F.sum("net").over(ws).alias("conc"),
        F.lead("d").over(wl).alias("nxt"),
    )
    return (
        conc.groupBy(F.col("sk").alias("s_suppkey"))
        .agg(
            F.sum(
                F.when(F.col("conc") > 0, F.datediff("nxt", "d")).otherwise(0)
            )
            .cast("long")
            .alias("covered_days"),
            F.datediff(F.max("d"), F.min("d")).cast("long").alias("span_days"),
            F.expr(
                "CAST(SUM(CASE WHEN conc > 0 THEN datediff(nxt, d)"
                " ELSE 0 END) * 1000000"
                " DIV datediff(MAX(d), MIN(d)) AS BIGINT)"
            ).alias("utilization_ppm"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Conformal prediction threshold + empirical coverage (split calibration)
# ---------------------------------------------------------------------------

@register(
    "ml_conformal_threshold",
    oracle="""
        WITH labeled AS (
            SELECT o.o_orderkey,
                   c.c_mktsegment AS segment,
                   CAST(CAST(o.o_totalprice AS DECIMAL(13,2)) * 100 AS BIGINT)
                     AS xc,
                   ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8))
                     ::BIGINT % 2 AS fold
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        seg AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n_cal,
                   CAST(SUM(xc) AS BIGINT) AS s_cal
            FROM labeled WHERE fold = 0 GROUP BY segment
        ),
        scored AS (
            SELECT l.o_orderkey, l.segment, l.fold,
                   abs(s.n_cal * l.xc - s.s_cal) AS score
            FROM labeled l JOIN seg s ON l.segment = s.segment
        ),
        ranked AS (
            SELECT segment, score,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY score, o_orderkey) AS rn
            FROM scored WHERE fold = 0
        ),
        thr AS (
            SELECT r.segment, r.score AS threshold
            FROM ranked r JOIN seg s ON r.segment = s.segment
            WHERE r.rn = (s.n_cal * 9 + 9) // 10
        )
        SELECT t.segment,
               s.n_cal,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               t.threshold,
               CAST(SUM(CASE WHEN sc.score <= t.threshold THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
        FROM scored sc
        JOIN thr t ON sc.segment = t.segment
        JOIN seg s ON sc.segment = s.segment
        WHERE sc.fold = 1
        GROUP BY t.segment, s.n_cal, t.threshold
        ORDER BY t.segment
    """,
    survey_ids=("W2", "A5", "F4"),
)
def ml_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per market segment: a hash fold
    splits orders into calibration/test, the nonconformity score is
    the exact integer deviation |n·x − S| from the calibration mean
    (multiply-through — no division ever happens), the 90% threshold
    is the ceil(0.9·(n+1))-th order statistic of calibration scores
    (the finite-sample-valid conformal quantile, = (9n+9) div 10),
    and the reported test coverage_ppm should hover near 900000 —
    the distribution-free uncertainty-interval machinery of a
    production scoring pipeline.

    Everything is rank-exact integers: scores share a per-segment
    denominator so their order is the true deviation order; the
    threshold pick is a row_number window with a unique tie-break;
    coverage is a fixed-point floor.

    Scale shape: one join for labels, a tiny calibration-stats agg
    broadcast back, one per-segment rank window over calibration
    rows, and one hash agg over test rows joined to the 5-row
    threshold table (broadcast).  At 100 TB the rank window is the
    only order-sensitive step, and it partitions by segment."""
    from end_end_data_pipeline__spark.plans.queries_llm import _md5_u32

    orders = lake.load_table(spark, "orders", sf_dir)
    cust = lake.load_table(spark, "customer", sf_dir)
    labeled = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(13,2)") * 100)
        .cast("bigint")
        .alias("xc"),
        (_md5_u32(F.col("o_orderkey")) % 2).alias("fold"),
    )
    seg = (
        labeled.filter(F.col("fold") == 0)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cal"),
            F.sum("xc").cast("long").alias("s_cal"),
        )
    )
    scored = labeled.join(F.broadcast(seg), "segment").select(
        "o_orderkey",
        "segment",
        "fold",
        "n_cal",
        F.abs(F.col("n_cal") * F.col("xc") - F.col("s_cal")).alias("score"),
    )
    wr = Window.partitionBy("segment").orderBy("score", "o_orderkey")
    thr = (
        scored.filter(F.col("fold") == 0)
        .select(
            "segment", "score", "n_cal", F.row_number().over(wr).alias("rn")
        )
        .filter(F.expr("rn = (n_cal * 9 + 9) DIV 10"))
        .select("segment", F.col("score").alias("threshold"))
    )
    return (
        scored.filter(F.col("fold") == 1)
        .join(F.broadcast(thr), "segment")
        .groupBy("segment", "n_cal", "threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(SUM(CASE WHEN score <= threshold THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .select(
            "segment", "n_cal", "n_test", "threshold", "coverage_ppm"
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Weighted median (rank-exact, quantity-weighted order statistic)
# ---------------------------------------------------------------------------

@register(
    "robust_weighted_median_value",
    oracle="""
        WITH pts AS (
            SELECT l_returnflag AS grp,
                   CAST(CAST(l_extendedprice AS DECIMAL(13,2)) * 100
                        AS BIGINT) AS v,
                   CAST(CAST(l_quantity AS DECIMAL(12,0)) AS BIGINT) AS w
            FROM lineitem
        ),
        byv AS (
            SELECT grp, v, CAST(SUM(w) AS BIGINT) AS w
            FROM pts GROUP BY grp, v
        ),
        cum AS (
            SELECT grp, v, w,
                   SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cw,
                   SUM(w) OVER (PARTITION BY grp) AS tw
            FROM byv
        ),
        lo AS (
            SELECT grp, MIN(v) AS m_lo FROM cum
            WHERE 2 * cw >= tw GROUP BY grp
        ),
        hi AS (
            SELECT grp, MIN(v) AS m_hi FROM cum
            WHERE 2 * cw > tw GROUP BY grp
        )
        SELECT c.grp,
               CAST(MAX(c.tw) AS BIGINT) AS total_weight,
               CAST(MAX(l.m_lo) + MAX(h.m_hi) AS BIGINT) AS wmed2_cents
        FROM cum c
        JOIN lo l ON c.grp = l.grp
        JOIN hi h ON c.grp = h.grp
        GROUP BY c.grp
        ORDER BY c.grp
    """,
    survey_ids=("A8", "W1", "A2"),
)
def robust_weighted_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median line price per return flag — the order
    statistic where each observation counts by its weight (the
    per-unit typical price, not the per-line one), rank-exact like
    the plain median but over the cumulative WEIGHT: the lower
    weighted median is the first value whose cumulative weight
    reaches half the total (2·cw ≥ W exactly — no halving division),
    the upper the first strictly past it, reported doubled
    (m_lo + m_hi) to stay integral.

    Scale shape: collapse to distinct values per group first (one
    map-side-combinable hash agg), then ONE cumulative window over
    the per-group value spine — the same shape every rank-exact
    statistic in this repo uses; never a sort of raw rows."""
    li = lake.load_table(spark, "lineitem", sf_dir)
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast("decimal(13,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.col("l_quantity").cast("decimal(12,0)").cast("bigint").alias("w"),
    )
    byv = pts.groupBy("grp", "v").agg(F.sum("w").cast("long").alias("w"))
    wc = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("grp")
    cum = byv.select(
        "grp",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    lo = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(F.min("v").alias("m_lo"))
    )
    hi = (
        cum.filter(2 * F.col("cw") > F.col("tw"))
        .groupBy("grp")
        .agg(F.min("v").alias("m_hi"))
    )
    tot = cum.groupBy("grp").agg(F.max("tw").cast("long").alias("total_weight"))
    return (
        tot.join(lo, "grp")
        .join(hi, "grp")
        .select(
            "grp",
            "total_weight",
            (F.col("m_lo") + F.col("m_hi")).cast("long").alias("wmed2_cents"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# MoM / YoY growth (calendar-join deltas, the BI reporting staple)
# ---------------------------------------------------------------------------

@register(
    "growth_mom_yoy_revenue",
    oracle="""
        WITH monthly AS (
            SELECT date_part('year', CAST(o_orderdate AS DATE)) * 12
                     + date_part('month', CAST(o_orderdate AS DATE)) - 1
                     AS mo,
                   strftime(date_trunc('month', CAST(o_orderdate AS DATE)),
                            '%Y-%m') AS month,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(13,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2
        )
        SELECT a.month, a.cents,
               CAST((a.cents - m1.cents) * 1000000 // m1.cents AS BIGINT)
                 AS mom_ppm,
               CAST((a.cents - m12.cents) * 1000000 // m12.cents AS BIGINT)
                 AS yoy_ppm
        FROM monthly a
        LEFT JOIN monthly m1 ON m1.mo = a.mo - 1
        LEFT JOIN monthly m12 ON m12.mo = a.mo - 12
        ORDER BY a.month
    """,
    survey_ids=("A6", "F6", "J4"),
)
def growth_mom_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth (fixed-point
    ppm) — the BI reporting staple, computed by CALENDAR join on an
    integer month ordinal rather than a row-lag window, so a missing
    month yields NULL growth instead of silently comparing against
    the wrong period.  Growth is exact integer arithmetic with
    truncating division (identical on both engines, negative growth
    included).

    Scale shape: one map-side-combinable hash agg to the month spine,
    then two self equi-joins on the tiny spine (broadcastable at any
    SF)."""
    orders = lake.load_table(spark, "orders", sf_dir)
    monthly = orders.groupBy(
        (
            F.year(F.to_date("o_orderdate")) * 12
            + F.month(F.to_date("o_orderdate"))
            - 1
        ).alias("mo"),
        F.date_format(
            F.date_trunc("month", F.to_date("o_orderdate")), "yyyy-MM"
        ).alias("month"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(13,2)") * 100).cast(
                "bigint"
            )
        )
        .cast("long")
        .alias("cents"),
    )
    a = monthly.alias("a")
    m1 = monthly.select(
        F.col("mo").alias("mo1"), F.col("cents").alias("cents1")
    )
    m12 = monthly.select(
        F.col("mo").alias("mo12"), F.col("cents").alias("cents12")
    )
    return (
        a.join(m1, F.col("mo1") == F.col("a.mo") - 1, "left")
        .join(m12, F.col("mo12") == F.col("a.mo") - 12, "left")
        .select(
            F.col("a.month").alias("month"),
            F.col("a.cents").alias("cents"),
            F.expr(
                "CAST((cents - cents1) * 1000000 DIV cents1 AS BIGINT)"
            ).alias("mom_ppm"),
            F.expr(
                "CAST((cents - cents12) * 1000000 DIV cents12 AS BIGINT)"
            ).alias("yoy_ppm"),
        )
        .orderBy("month")
    )
