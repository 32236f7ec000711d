"""Graph + behavioral analytics family (q200-q207): PageRank, triangle
counting, degree distributions on the part co-purchase graph; association
rules, Markov transitions, RFM segmentation, A/B z-scores, and top event
paths on the events stream.

The graph is derived, not stored: parts co-occurring in the same order
form an undirected edge list (logically the ``l_orderkey`` self-join
with ``a < b``; since round 12 the Spark derivation is one aggregate per
order + a row-local HOF pair expansion — same set, one exchange fewer,
see ``_edges``). At 100 TB the same derivation holds — the pair blowup
per order is bounded by max-order-size², not data size, and every
downstream pass is an equi-keyed hash aggregate or join on node/edge
keys.

Determinism (cross-engine oracle rules, see plans/_util.py):
- iterative float state (PageRank ranks) is quantized to integer
  1e-12 units before each re-aggregation — bigint sums are exact in any
  partition order, and the requantization makes iteration N+1's input
  bit-identical in both engines;
- counts and integer-scaled moments (A/B z-score: events ``value`` has 2
  decimals, so value*100 is an exact bigint) aggregate exactly; the final
  scalar formula is then a single identical sequence of double ops;
- ratio metrics (confidence/lift/probabilities) divide exact counts once
  and floor-round to 6 digits.

Reference parity: the reference has no graph module — this family is
part of the training-data-pipeline extension surface (co-occurrence
statistics, user behavior models) the engine adds beyond SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..materialize import materialize
from ..catalog import load_table
from ..sizing import fits_broadcast
from ._util import ntile_from_rank, round_det, sql_round_det
from .registry import query

# Undirected co-purchase edges: parts appearing in the same order, a < b,
# deduped across orders. Both engines derive it identically.
_SQL_EDGES = """
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
    WHERE x.l_partkey < y.l_partkey
"""


def _edges(spark: SparkSession, sf: str) -> DataFrame:
    """Derive the co-purchase edge list shared by the whole graph family.

    Round 12 (guide §2.4 remove-shuffles, measured): one aggregate per
    order (``collect_set`` of its partkeys, sorted) with a row-local HOF
    pair expansion replaces the lineitem self-join — the pair space of an
    order is generated from ONE grouped row instead of joining the table
    to itself, so the derivation pays one hash exchange (groupBy
    l_orderkey) + the distinct instead of two join-side exchanges + the
    distinct. Measured at sf0.1: 2.3-2.9 s → 1.4-1.9 s noop-sink,
    identical 1,196,000-row edge set (join-twin pinned in
    tests/test_maintenance.py). Per-order pair work is row-local and
    bounded by max-order-size² exactly as before (TPC-H orders are tiny);
    ``sort_array`` + suffix slice keeps the a < b orientation without a
    filter, and ``collect_set`` dedups a part appearing on two lineitems
    of one order (the join form crossed them, then a<b + distinct
    collapsed the difference — same final set)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    return (
        parts.select(F.explode(pairs).alias("e"))
        .select("e.a", "e.b")
        .distinct()
    )


def _q12(col: F.Column) -> F.Column:
    """Quantize a double to exact 1e-12 units (bigint)."""
    return F.floor(col * F.lit(1e12) + F.lit(0.5)).cast("long")


def _weighted_edge_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Co-purchase pair co-occurrence counts ``(a, b, cnt)`` with a < b —
    the weighted twin of ``_edges`` (cnt = number of same-order lineitem
    ROW pairs, the exact quantity the oracle's lineitem self-join
    ``GROUP BY a, b COUNT(*)`` computes; a part on two lineitems of one
    order contributes multiplicatively, which the per-(order, part)
    pre-count reproduces as c_a·c_b).

    Round 12 (the `_edges` §A2 rewrite applied to the weighted
    derivation used by q374/q389): one aggregate per (order, part), one
    per order, and a row-local HOF pair expansion carrying the count
    product — replacing the lineitem self-join. Measured at sf0.1:
    noop-sink 1.69-2.15 s → 1.38-1.69 s with a value-identical
    1,196,000-row weighted edge set (pinned by the join-twin test)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    pc = li.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    parts = pc.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_partkey", "c"))).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda b: F.struct(
                    a["l_partkey"].alias("a"),
                    b["l_partkey"].alias("b"),
                    (a["c"] * b["c"]).alias("cw"),
                ),
            ),
        )
    )
    return (
        parts.select(F.explode(pairs).alias("e"))
        .select("e.a", "e.b", "e.cw")
        .groupBy("a", "b")
        .agg(F.sum("cw").cast("long").alias("cnt"))
    )


# ------------------------------------------------------------- PageRank ----
@query(
    "q200_pagerank_two_rounds",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM und),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
    r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM n) AS rank FROM deg),
    c1 AS (SELECT u.dst AS node,
                  SUM(CAST(floor(r.rank / r.deg * 1e12 + 0.5) AS BIGINT)) AS q
           FROM und u JOIN r0 r ON r.node = u.src GROUP BY u.dst),
    r1 AS (SELECT d.node, d.deg,
                  0.15 / (SELECT n FROM n)
                  + 0.85 * (CAST(COALESCE(c.q, 0) AS DOUBLE) / 1e12) AS rank
           FROM deg d LEFT JOIN c1 c ON c.node = d.node),
    c2 AS (SELECT u.dst AS node,
                  SUM(CAST(floor(r.rank / r.deg * 1e12 + 0.5) AS BIGINT)) AS q
           FROM und u JOIN r1 r ON r.node = u.src GROUP BY u.dst),
    r2 AS (SELECT d.node,
                  0.15 / (SELECT n FROM n)
                  + 0.85 * (CAST(COALESCE(c.q, 0) AS DOUBLE) / 1e12) AS rank
           FROM deg d LEFT JOIN c2 c ON c.node = d.node)
    SELECT node, {sql_round_det("rank", 9)} AS pagerank
    FROM r2 ORDER BY pagerank DESC, node LIMIT 25
    """,
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank, two unrolled power-iteration rounds over the co-purchase
    graph (damping 0.85, uniform init). Each round is one equi join
    (ranks onto outgoing edges) + one hash aggregate (contributions per
    destination) — the canonical O(E)-per-round distributed plan; at
    scale the edge list would be pre-partitioned by src so the join
    shuffles only the O(V) rank table. Per-edge contributions are
    quantized to 1e-12 bigint units so the re-aggregation is exact and
    iteration inputs stay bit-identical cross-engine."""
    # both orientations via one row-local explode of a single edge-list
    # derivation (the q256/q261 lesson: a self-union re-plans the
    # co-purchase self-join per branch)
    und = (
        _edges(spark, sf)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    ranks = deg.withColumn("rank", F.lit(1.0 / n))
    for _ in range(2):
        # SHUFFLE_HASH (round-6 rule (c2)): the contribution stream feeds
        # only the per-destination aggregate; build = the O(V) rank table,
        # O(V/partitions) per build partition (measured 5.6 -> 3.9 s warm
        # at sf0.1 across the two rounds)
        contrib = (
            und.join(
                ranks.select("node", "deg", "rank").hint("shuffle_hash"),
                und.src == F.col("node"),
            )
            .select(F.col("dst").alias("node"), _q12(F.col("rank") / F.col("deg")).alias("q"))
            .groupBy("node")
            .agg(F.sum("q").alias("q"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .withColumn(
                "rank",
                F.lit(0.15 / n)
                + F.lit(0.85)
                * (F.coalesce(F.col("q"), F.lit(0)).cast("double") / F.lit(1e12)),
            )
            .select("node", "deg", "rank")
        )
    return (
        ranks.select("node", round_det(F.col("rank"), 9).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(25)
    )


# ------------------------------------------------------ triangle count ----
@query(
    "q201_triangle_count",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES})
    SELECT COUNT(*) AS triangles
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting by oriented wedge closure: with every edge stored
    once as a < b, the two-hop path (a<b<c) joined back to the closing
    edge counts each triangle exactly once. Orienting by id (degree
    ordering at scale) keeps the wedge fan-out bounded by the smaller
    endpoint's out-degree — the standard MapReduce triangle algorithm."""
    e = _edges(spark, sf)
    e1 = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    e3 = e.select(F.col("a").alias("u"), F.col("b").alias("w"))
    # SHUFFLE_HASH (round-6 rule (c2), SCALE.md): the wedge stream feeds
    # only the closing semi-join and the count — SMJ would sort it for
    # nothing (measured 7.8 -> 4.5 s warm at sf0.1); both build sides
    # are the slim once-per-edge list
    wedges = e1.join(e2.hint("shuffle_hash"), "v")
    return wedges.join(
        e3.hint("shuffle_hash"), ["u", "w"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("triangles"))


# -------------------------------------------------- degree distribution ----
@query(
    "q202_degree_distribution",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src FROM edges UNION ALL SELECT b FROM edges),
    deg AS (SELECT src, COUNT(*) AS degree FROM und GROUP BY src)
    SELECT degree, COUNT(*) AS node_count
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: two cascaded hash
    aggregates (degree per node, then node count per degree). The second
    agg's key space is tiny, so the plan is one real shuffle + one
    near-free one."""
    und = _edges(spark, sf).select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("src")
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("node_count"))
        .orderBy("degree")
    )


# ----------------------------------------------------- association rules ----
@query(
    "q203_association_rules",
    oracle=f"""
    WITH pair_orders AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b,
               COUNT(DISTINCT x.l_orderkey) AS pair_n
        FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        WHERE x.l_partkey < y.l_partkey
        GROUP BY a, b
    ),
    item_orders AS (
        SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS item_n
        FROM lineitem GROUP BY l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT o_orderkey) AS n FROM orders)
    SELECT a, b, pair_n,
           {sql_round_det("CAST(pair_n AS DOUBLE) / ia.item_n", 6)} AS confidence,
           {sql_round_det(
               "CAST(pair_n AS DOUBLE) / ia.item_n "
               "/ (CAST(ib.item_n AS DOUBLE) / (SELECT n FROM n))", 6)} AS lift
    FROM pair_orders
    JOIN item_orders ia ON ia.l_partkey = a
    JOIN item_orders ib ON ib.l_partkey = b
    WHERE pair_n >= 3
    ORDER BY lift DESC, a, b LIMIT 25
    """,
)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules a=>b: support, confidence, lift from
    exact basket counts (min support 3). Pair counting dedups
    (order, a, b) before the count — same O(groups) dedup-then-count split
    as the Q16 shape — and the per-item counts broadcast onto the pair
    table. Ratios are single double divisions of exact integers."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    x = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
    y = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
    pair_n = (
        x.join(y, "k")
        .filter(F.col("a") < F.col("b"))
        .select("k", "a", "b")
        .distinct()
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= 3)
    )
    item_n = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_n"))
    )
    n_orders = load_table(spark, sf, "orders").select("o_orderkey").distinct().count()
    ia = item_n.select(F.col("l_partkey").alias("a"), F.col("item_n").alias("ia_n"))
    ib = item_n.select(F.col("l_partkey").alias("b"), F.col("item_n").alias("ib_n"))
    conf = F.col("pair_n").cast("double") / F.col("ia_n")
    lift = conf / (F.col("ib_n").cast("double") / F.lit(float(n_orders)))
    return (
        # per-item supports scale with |part| — no forced broadcast; AQE
        # broadcasts while they fit, shuffles on the equi key beyond that
        pair_n.join(ia, "a")
        .join(ib, "b")
        .select(
            "a",
            "b",
            "pair_n",
            round_det(conf, 6).alias("confidence"),
            round_det(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "a", "b")
        .limit(25)
    )


# ----------------------------------------------------- Markov transitions ----
@query(
    "q204_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ),
    t AS (SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n,
           {sql_round_det(
               "CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src)", 6)} AS p
    FROM t ORDER BY src, dst
    """,
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    LEAD window (ordered by ts with event_id tiebreak), transition counts,
    then row-normalized probabilities via a partition-total window over
    the tiny state x state result. One shuffle on user_id, one on the
    state pair."""
    ev = load_table(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(W.partitionBy("src"))
    return (
        t.select(
            "src",
            "dst",
            "n",
            round_det(F.col("n").cast("double") / total, 6).alias("p"),
        )
        .orderBy("src", "dst")
    )


# -------------------------------------------------------------- RFM ----
@query(
    "q205_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS mx FROM events),
    rfm AS (
        SELECT user_id,
               datediff('day', MAX(ts), (SELECT mx FROM mx)) AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS monetary_c
        FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               NTILE(4) OVER (ORDER BY recency_days, user_id) AS r,
               NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f,
               NTILE(4) OVER (ORDER BY monetary_c DESC, user_id) AS m
        FROM rfm
    )
    SELECT r, f, m, COUNT(*) AS users
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
)
def q205(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary per user, quartiled
    over a total order (user_id tiebreak makes the tile assignment
    deterministic), then segment population counts. Monetary sums cents
    as exact bigints.

    The quartiles are EXACT NTILE semantics but fully distributed (the
    q218 pattern): per metric, a global rank via the zipWithIndex shape
    (`deterministic_id(fact_scale=True)` — range partition, per-partition
    row_number, prefix-sum offsets) and `_util.ntile_from_rank`, the true
    NTILE closed form (first n mod 4 buckets take the extra row). The old
    ``floor((rank-1)·4/n)+1`` form was NOT NTILE and diverged whenever the
    user count ≡ 2 (mod 4) — e.g. the 150 users at sf0.01 (round-2 ADVICE
    high finding; regression-tested in tests/test_refops.py). DESC metrics
    rank on the negated value. No partitionless window anywhere (round-1
    finding #4's class, enforced by tools/audit_plans.py); the oracle
    stays the plain NTILE SQL, hash-exact."""
    from ..functions.refops import deterministic_id

    ev = load_table(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    rfm = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "monetary_c"
            ),
        )
        .join(F.broadcast(mx))
        .withColumn("recency_days", F.datediff(F.col("mx"), F.col("last_ts")))
        .withColumn("neg_f", -F.col("frequency"))
        .withColumn("neg_m", -F.col("monetary_c"))
    )
    ranked = deterministic_id(rfm, ["recency_days", "user_id"], name="rnk_r", fact_scale=True)
    ranked = deterministic_id(ranked, ["neg_f", "user_id"], name="rnk_f", fact_scale=True)
    ranked = deterministic_id(ranked, ["neg_m", "user_id"], name="rnk_m", fact_scale=True)
    total = ranked.agg(F.count(F.lit(1)).alias("n_tot"))
    scored = ranked.crossJoin(F.broadcast(total)).select(
        ntile_from_rank(F.col("rnk_r"), F.col("n_tot"), 4).alias("r"),
        ntile_from_rank(F.col("rnk_f"), F.col("n_tot"), 4).alias("f"),
        ntile_from_rank(F.col("rnk_m"), F.col("n_tot"), 4).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("r", "f", "m")
    )


# ------------------------------------------------------------ A/B z-score ----
@query(
    "q206_ab_test_zscore",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(user_id AS BIGINT) % 2 AS cohort,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT cohort, COUNT(*) AS n, SUM(v_c) AS s, SUM(v_c * v_c) AS ss
        FROM assigned GROUP BY cohort
    ),
    w AS (
        SELECT
          MAX(CASE WHEN cohort = 0 THEN n END) AS n0,
          MAX(CASE WHEN cohort = 0 THEN s END) AS s0,
          MAX(CASE WHEN cohort = 0 THEN ss END) AS ss0,
          MAX(CASE WHEN cohort = 1 THEN n END) AS n1,
          MAX(CASE WHEN cohort = 1 THEN s END) AS s1,
          MAX(CASE WHEN cohort = 1 THEN ss END) AS ss1
        FROM m
    )
    SELECT n0, n1,
           {sql_round_det("CAST(s0 AS DOUBLE) / n0 / 100", 6)} AS mean0,
           {sql_round_det("CAST(s1 AS DOUBLE) / n1 / 100", 6)} AS mean1,
           {sql_round_det(
               "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 100 / "
               "sqrt((CAST(ss0 AS DOUBLE) / n0 "
               "- (CAST(s0 AS DOUBLE) / n0) * (CAST(s0 AS DOUBLE) / n0)) / n0 / 10000 "
               "+ (CAST(ss1 AS DOUBLE) / n1 "
               "- (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)) / n1 / 10000)",
               6)} AS z
    FROM w
    """,
)
def q206(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample z-score for an A/B split: cohorts assigned by
    deterministic user_id parity (a stand-in for the salted-hash splitter
    of q109), purchase values accumulated as exact cent bigint sums and
    sums-of-squares, and the z statistic computed in one identical
    double-op sequence on both engines. The whole query is two hash
    aggregates and a 2-row pivot — no per-row float math anywhere."""
    ev = load_table(spark, sf, "events").filter(F.col("event_type") == "purchase")
    v_c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = (
        ev.select(
            (F.col("user_id").cast("long") % 2).alias("cohort"), v_c.alias("v_c")
        )
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_c").alias("s"),
            F.sum(F.col("v_c") * F.col("v_c")).alias("ss"),
        )
    )
    w = m.agg(
        *[
            F.max(F.when(F.col("cohort") == c, F.col(x))).alias(f"{x}{c}")
            for c in (0, 1)
            for x in ("n", "s", "ss")
        ]
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    var = lambda ss, s, n: (
        F.col(ss).cast("double") / F.col(n) - mean(s, n) * mean(s, n)
    )  # noqa: E731
    z = (
        (mean("s1", "n1") - mean("s0", "n0"))
        / F.lit(100)
        / F.sqrt(
            var("ss0", "s0", "n0") / F.col("n0") / F.lit(10000)
            + var("ss1", "s1", "n1") / F.col("n1") / F.lit(10000)
        )
    )
    return w.select(
        "n0",
        "n1",
        round_det(mean("s0", "n0") / F.lit(100), 6).alias("mean0"),
        round_det(mean("s1", "n1") / F.lit(100), 6).alias("mean1"),
        round_det(z, 6).alias("z"),
    )


# ------------------------------------------------------------ top paths ----
@query(
    "q207_top_event_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               MAX(CASE WHEN rn = 1 THEN event_type END) || '>' ||
               MAX(CASE WHEN rn = 2 THEN event_type END) || '>' ||
               MAX(CASE WHEN rn = 3 THEN event_type END) AS path
        FROM ranked WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, COUNT(*) AS users
    FROM paths WHERE path IS NOT NULL
    GROUP BY path ORDER BY users DESC, path LIMIT 20
    """,
)
def q207(spark: SparkSession, sf: str) -> DataFrame:
    """Top entry paths: each user's first three events (row_number over
    ts with event_id tiebreak) concatenated into a path string, then path
    frequencies. The conditional-MAX pivot avoids collect_list ordering
    concerns entirely — the path is deterministic by construction."""
    ev = load_table(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    step = lambda i: F.max(  # noqa: E731
        F.when(F.col("rn") == i, F.col("event_type"))
    )
    paths = (
        ranked.groupBy("user_id")
        .agg(F.concat_ws(">", step(1), step(2), step(3)).alias("path"),
             F.count(F.lit(1)).alias("_steps"))
        .filter(F.col("_steps") >= 3)
        .select("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy(F.desc("users"), "path")
        .limit(20)
    )


# -------------------------------------------------------------- k-core -----
@query(
    "q261_kcore_peel",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg1 AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
    keep1 AS (SELECT src FROM deg1 WHERE d >= 80),
    und1 AS (
        SELECT u.src, u.dst FROM und u
        JOIN keep1 s ON u.src = s.src
        JOIN keep1 t ON u.dst = t.src
    ),
    deg2 AS (SELECT src, COUNT(*) AS d FROM und1 GROUP BY src),
    keep2 AS (SELECT src, d FROM deg2 WHERE d >= 80)
    SELECT src AS node, d AS degree FROM keep2 ORDER BY node
    """,
)
def q261(spark: SparkSession, sf: str) -> DataFrame:
    """k-core peeling (k=80), two rounds, on the co-purchase graph — the
    degeneracy-ordering primitive behind community detection and graph
    sparsification: repeatedly drop nodes with degree < k and recompute
    degrees on the induced subgraph until fixpoint. Two explicit rounds
    are registered (the q200 pagerank convention for iterative graph
    algorithms); the fixpoint loop is the q108 connected-components
    driver pattern — checkpoint per round, ONE isEmpty probe on the
    delta (did any node fall below k?).

    Scale shape per round: one degree aggregate (mergeable partials) +
    two semi-joins restricting edges to surviving endpoints — the
    survivor set is O(nodes), slim, broadcastable at realistic node/edge
    ratios; the edge list is never collected or globally sorted."""
    # both orientations from ONE derivation of the edge list via a
    # row-local explode — a self-union would re-plan the co-purchase
    # self-join per branch (the q256 lesson; halves the exchange count)
    und = (
        _edges(spark, sf)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )

    def peel(u: DataFrame, k: int) -> DataFrame:
        deg = u.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("src")
        return (
            u.join(F.broadcast(keep), "src", "left_semi")
            .join(
                F.broadcast(keep.withColumnRenamed("src", "dst")),
                "dst",
                "left_semi",
            )
        )

    und1 = peel(und, 80)
    deg2 = und1.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg2.where(F.col("d") >= 80)
        .select(F.col("src").alias("node"), F.col("d").alias("degree"))
        .orderBy("node")
    )


# ------------------------------------------------- BFS shortest path ----
BFS_HOPS = 3
BFS_SEED_MOD = 251


def _bfs_sql() -> str:
    frontiers = []
    prior = ["d0"]
    for h in range(1, BFS_HOPS + 1):
        prev = prior[-1]
        not_seen = "\n           AND ".join(
            f"NOT EXISTS (SELECT 1 FROM {v} x WHERE x.node = u.dst)"
            for v in prior
        )
        frontiers.append(
            f"""f{h} AS (
        SELECT DISTINCT u.dst AS node
        FROM und u JOIN {prev} s ON s.node = u.src
        WHERE {not_seen})"""
        )
        prior.append(f"f{h}")
    arms = "\n    UNION ALL ".join(
        f"SELECT node, CAST({h} AS BIGINT) AS dist FROM {t}"
        for h, t in enumerate(prior)
    )
    return f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    d0 AS (SELECT DISTINCT src AS node FROM und
           WHERE src % {BFS_SEED_MOD} = 0),
    {",".join(frontiers)}
    {arms}
    ORDER BY dist, node
    """


@query("q324_bfs_shortest_path", oracle=_bfs_sql())
def q324(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-hop BFS shortest path from a deterministic seed set
    (nodes ≡ 0 mod {m}) over the co-purchase graph: dist = min #hops
    ≤ {h}. Each round is ONE frontier⋈edges equi-join + a distinct + an
    anti-join against the visited set — the canonical O(frontier·deg)
    per-round distributed plan (Pregel/GraphX BFS re-expressed as
    DataFrame ops). Frontiers are eagerly checkpointed so round k+1
    reads round k's materialized blocks instead of re-deriving the
    whole lineage (the q108 label-prop discipline); at 100 TB the edge
    list is pre-partitioned by src so every round shuffles only the
    O(frontier) probe side. Unbounded BFS = this loop + an isEmpty
    probe; the bounded-hop form is the registered, oracle-checkable
    query."""
    und = (
        _edges(spark, sf)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .transform(materialize)  # probed once per round
    )
    frontier = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") % BFS_SEED_MOD == 0)
        .transform(materialize)
    )
    visited = frontier
    out = frontier.select("node", F.lit(0).cast("long").alias("dist"))
    for h in range(1, BFS_HOPS + 1):
        nxt = (
            und.join(frontier, und.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .transform(materialize)
        )
        out = out.unionByName(
            nxt.select("node", F.lit(h).cast("long").alias("dist"))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return out.orderBy("dist", "node")


q324.__doc__ = q324.__doc__.format(m=BFS_SEED_MOD, h=BFS_HOPS)


# ---------------------------------------------------- triangle counting ----
def _triangle_sql() -> str:
    return f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY src),
    ori AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dv
        FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ),
    wedges AS (
        SELECT o1.v AS x, o2.v AS y
        FROM ori o1 JOIN ori o2
          ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
    ),
    tri AS (
        SELECT w.x, w.y FROM wedges w
        JOIN ori o3 ON o3.u = w.x AND o3.v = w.y
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
    """


@query("q335_triangle_count", oracle=_triangle_sql())
def q335(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting via DEGREE-ordered edge orientation — the
    scale twin q201's docstring names but does not implement ("degree
    ordering at scale"): q201 orients by id alone, so a low-id hub
    still fans out sum(deg²) wedges; here every undirected edge is
    directed from its lower-(degree, id) endpoint to the higher (the
    MapReduce-era Suri-Vassilvitskii / Cohen scheme as DataFrame
    joins), bounding each node's out-degree by O(sqrt(2m)) and the
    wedge space by sum(outdeg²) ≤ m·sqrt(2m) regardless of hubs.
    Wedges come from ONE self-equi-join of the oriented edges on the
    source, ordered by (deg, id) so each triangle is generated exactly
    once, and close via ONE equi-join back onto the oriented edge
    list. The report carries n_edges and the REALIZED n_wedges next to
    n_triangles — the wedge count is the quadratic cost the ordering
    bounds, so the certification is in the output itself (and the
    triangle total cross-checks q201's).

    Join strategy (round-6 profile, BASELINE.md): both the wedge
    self-join and the close join take SHUFFLE_HASH hints — sort-merge
    would sort the 41M-wedge stream by (x, y) for the close probe,
    pure waste for a pipeline that ends in one aggregate (measured
    2.3× on the wedge+close stage at sf0.1: 4.9-6.0 s SMJ → 2.4-3.1 s
    SHJ). SHJ is safe here BECAUSE of the orientation invariant the
    query certifies: each build side is the oriented edge list, whose
    per-key width is bounded (outdeg(u) ≤ √(2m); (x, y) near-unique),
    so no build partition can blow up on a hub. Broadcasting either
    side was measured 3× WORSE locally (1.2M-row hash probed into a
    41M-row expansion in few tasks) and is O(m) at scale anyway."""
    edges = _edges(spark, sf).transform(materialize)
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    ori = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .transform(materialize)  # probed 3×: two wedge arms + close
    )
    o1 = ori.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = ori.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = o1.join(o2.hint("shuffle_hash"), "u").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    # ONE pass over the wedge space: a left join against the closing edge
    # marks closed wedges, so n_wedges and n_triangles come out of the same
    # aggregate instead of running the (dominant-cost) wedge join twice
    marked = wedges.join(
        ori.select(
            F.col("u").alias("x"), F.col("v").alias("y"), F.lit(1).alias("hit")
        ).hint("shuffle_hash"),
        ["x", "y"],
        "left",
    )
    n_e = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wt = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_wedges"),
        F.count("hit").cast("long").alias("n_triangles"),
    )
    return n_e.crossJoin(F.broadcast(n_wt)).select(
        "n_edges", "n_wedges", "n_triangles"
    )


# ------------------------------------------- local clustering coefficient --
def _clustering_sql() -> str:
    return f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY src),
    ori AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dv
        FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ),
    tri AS (
        SELECT o1.u AS u, o1.v AS x, o2.v AS y
        FROM ori o1 JOIN ori o2
          ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
        JOIN ori o3 ON o3.u = o1.v AND o3.v = o2.v
    ),
    tcount AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t
        FROM (SELECT unnest([u, x, y]) AS node FROM tri)
        GROUP BY node
    )
    SELECT g.node, g.d AS degree, CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_tri,
           CAST(2 * COALESCE(tc.t, 0) * 1000000
                // (g.d * (g.d - 1)) AS BIGINT) AS cc_ppm
    FROM deg g LEFT JOIN tcount tc ON tc.node = g.node
    WHERE g.d >= 2
    ORDER BY g.node
    """


@query("q336_clustering_coefficient", oracle=_clustering_sql())
def q336(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient per node — cc(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)), the community-structure metric on top of
    q335's triangle machinery. Triangles come from the same
    degree-ordered orientation (wedge space bounded by sum outdeg²);
    per-node counts are ONE explode of each triangle's three corners
    into a hash aggregate, joined back onto the degree table. The
    coefficient is reported in exact integer ppm so it hash-matches.
    Nodes of degree < 2 (coefficient undefined) are excluded by
    contract."""
    edges = _edges(spark, sf).transform(materialize)
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .transform(materialize)  # orientation + final report
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    ori = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .transform(materialize)
    )
    o1 = ori.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = ori.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    # same SHUFFLE_HASH strategy as q335 (see its docstring): no sort of
    # the wedge stream, build sides bounded by the orientation invariant
    tri = (
        o1.join(o2.hint("shuffle_hash"), "u")
        .where(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .join(
            ori.select(
                F.col("u").alias("x"), F.col("v").alias("y")
            ).hint("shuffle_hash"),
            ["x", "y"],
        )
    )
    tcount = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("x"), F.col("y"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(tcount, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000"
                " div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy("node")
    )


# ------------------------------------------------ personalized PageRank ----
PPR_SEED_MOD = 7
PPR_DAMP = 0.85


def _ppr_sql() -> str:
    return f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
    seeds AS (SELECT node FROM deg WHERE node % {PPR_SEED_MOD} = 0),
    ns AS (SELECT COUNT(*) AS ns FROM seeds),
    r0 AS (SELECT d.node, d.deg,
                  CASE WHEN d.node % {PPR_SEED_MOD} = 0
                       THEN 1.0 / (SELECT ns FROM ns) ELSE 0.0 END AS rank
           FROM deg d),
    c1 AS (SELECT u.dst AS node,
                  SUM(CAST(floor(r.rank / r.deg * 1e12 + 0.5) AS BIGINT)) AS q
           FROM und u JOIN r0 r ON r.node = u.src GROUP BY u.dst),
    r1 AS (SELECT d.node, d.deg,
                  CASE WHEN d.node % {PPR_SEED_MOD} = 0
                       THEN {1 - PPR_DAMP} / (SELECT ns FROM ns)
                       ELSE 0.0 END
                  + {PPR_DAMP} * (CAST(COALESCE(c.q, 0) AS DOUBLE) / 1e12)
                    AS rank
           FROM deg d LEFT JOIN c1 c ON c.node = d.node),
    c2 AS (SELECT u.dst AS node,
                  SUM(CAST(floor(r.rank / r.deg * 1e12 + 0.5) AS BIGINT)) AS q
           FROM und u JOIN r1 r ON r.node = u.src GROUP BY u.dst),
    r2 AS (SELECT d.node,
                  CASE WHEN d.node % {PPR_SEED_MOD} = 0
                       THEN {1 - PPR_DAMP} / (SELECT ns FROM ns)
                       ELSE 0.0 END
                  + {PPR_DAMP} * (CAST(COALESCE(c.q, 0) AS DOUBLE) / 1e12)
                    AS rank
           FROM deg d LEFT JOIN c2 c ON c.node = d.node)
    SELECT node, node % {PPR_SEED_MOD} = 0 AS is_seed,
           {sql_round_det("rank", 9)} AS ppr
    FROM r2 ORDER BY ppr DESC, node LIMIT 25
    """


@query("q342_personalized_pagerank", oracle=_ppr_sql())
def q342(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set —
    nodes ≡ 0 mod {m}), two unrolled power-iteration rounds: the
    recommendation/similar-items primitive where relevance is measured
    FROM a context set rather than globally (q200 is the uniform
    special case). Same per-round plan as q200 — one equi-join of
    ranks onto outgoing edges + one hash aggregate of contributions —
    with the teleport mass restored to seeds only each round; per-edge
    contributions are 1e-12-quantized BIGINTs so re-aggregation is
    exact and iteration inputs stay bit-identical cross-engine.
    Non-seed mass decays by damping^rounds, so the top-k surfaces the
    seed neighborhoods, which is the product behavior."""
    und = (
        _edges(spark, sf)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    is_seed = F.col("node") % PPR_SEED_MOD == 0
    ns = deg.where(is_seed).count()
    teleport = F.when(is_seed, F.lit((1 - PPR_DAMP) / ns)).otherwise(F.lit(0.0))
    ranks = deg.withColumn(
        "rank", F.when(is_seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0))
    )
    for _ in range(2):
        # SHUFFLE_HASH: same rationale and measurement as q200's round
        contrib = (
            und.join(
                ranks.select("node", "deg", "rank").hint("shuffle_hash"),
                und.src == F.col("node"),
            )
            .select(
                F.col("dst").alias("node"),
                _q12(F.col("rank") / F.col("deg")).alias("q"),
            )
            .groupBy("node")
            .agg(F.sum("q").alias("q"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .withColumn(
                "rank",
                teleport
                + F.lit(PPR_DAMP)
                * (F.coalesce(F.col("q"), F.lit(0)).cast("double") / F.lit(1e12)),
            )
            .select("node", "deg", "rank")
        )
    return (
        ranks.select(
            "node",
            is_seed.alias("is_seed"),
            round_det(F.col("rank"), 9).alias("ppr"),
        )
        .orderBy(F.desc("ppr"), "node")
        .limit(25)
    )


q342.__doc__ = q342.__doc__.format(m=PPR_SEED_MOD)


# -------------------------------------------------- k-truss peeling -------
KTRUSS_SUPPORT = 2  # survive iff edge sits in >= 2 triangles (4-truss)
KTRUSS_ROUNDS = 2
# peel sets that fit the byte budget (sizing.fits_broadcast) broadcast
# into the triangle anti-joins; larger peels fall back to the
# shuffled-hash anti-join. A peel row is two longs, but on the driver it
# costs an estimated ~160 B while the collected UnsafeRows (24 B payload + object and
# array headers) and the built two-key hash relation (key + value rows +
# slot) coexist — so the 256 MiB budget admits ~1.7M-row peels. The count
# is free: the peel set is already eagerly materialized. Measured at
# sf0.1 (51k removed edges): broadcast runs the three anti-joins with
# ZERO shuffles of the 1.88M-row triangle list (3 BroadcastHashJoin vs
# 3 SortMergeJoin + 6 exchanges — AQE did not convert on its own because
# checkpointed stats are unknown), 1.5 s -> 0.9 s for the filter pass.
KTRUSS_PEEL_ROW_BYTES = 160


def _ktruss_sql() -> str:
    def peel(src: str, i: int) -> str:
        return f"""
    t{i} AS (SELECT e1.a, e1.b, e2.b AS c
             FROM {src} e1 JOIN {src} e2 ON e2.a = e1.b
             JOIN {src} e3 ON e3.a = e1.a AND e3.b = e2.b),
    s{i} AS (SELECT a AS x, b AS y FROM t{i}
             UNION ALL SELECT b, c FROM t{i}
             UNION ALL SELECT a, c FROM t{i}),
    sup{i} AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS s
               FROM s{i} GROUP BY x, y),
    e{i + 1} AS (SELECT e.a, e.b, s.s FROM {src} e
                 JOIN sup{i} s ON s.x = e.a AND s.y = e.b
                 WHERE s.s >= {KTRUSS_SUPPORT})"""

    return f"""
    WITH e0 AS ({_SQL_EDGES}),
    {peel('e0', 0)},
    {peel('e1', 1)}
    SELECT a, b, s AS support FROM e2 ORDER BY a, b
    """


@query("q345_ktruss_peel", oracle=_ktruss_sql())
def q345(spark: SparkSession, sf: str) -> DataFrame:
    """K-truss peeling ({r} unrolled rounds, support ≥ {k} = 4-truss):
    the community-core extractor one level up from q335's triangle
    counting — an edge survives a round only if it participates in ≥
    {k} triangles among the CURRENTLY surviving edges.

    Round-12 materialize-and-decrement interior (guide §2.4 fewer
    shuffles, §5 iterative lineage; VERDICT r11 ask #1): triangles are
    enumerated ONCE on the input edge set — one id-ordered wedge
    self-join + closure semi-join (the q201 enumeration; at hub-heavy
    scale swap in q335's degree ordering, same downstream plan) — and
    the (u, v, w) list is eagerly checkpointed. Each peel round then
    (a) counts per-edge support by exploding every LIVE triangle's
    three edges into a hash aggregate, (b) peels (keep s ≥ {k}), and
    (c) kills the triangles the peel destroyed: a left-anti join of
    the live triangle list against the REMOVED edge set on each of the
    three edge slots. Equivalence to the re-enumerating loop is exact:
    a triangle of the round-i edge set is precisely a round-0 triangle
    all of whose edges are still alive (its three edges are round-0
    edges by construction, and every subset survives the peel filter
    iff each edge does), so the filtered list IS what re-enumeration
    would output — with the O(Σdeg²) wedge expansion paid once instead
    of every round. The removed set (edges that sat in ≥1 triangle but
    missed support) is the small side of every anti-join and is
    eagerly materialized, so the planner sees a bounded build side
    instead of re-deriving the aggregate three times; on skewed/huge
    peels AQE's runtime stats keep the join strategy honest. Output =
    surviving edges with the support that justified survival (the last
    round's aggregate), identical rows to the per-round re-enumeration
    (oracle-pinned tri-SF)."""
    edges = _edges(spark, sf).transform(materialize)
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    e3 = edges.select(F.col("a").alias("u"), F.col("b").alias("w"))
    # SHUFFLE_HASH on both enumeration joins (q201's measured rule — the
    # wedge stream feeds only the closing semi-join; SMJ would sort it
    # for nothing, and both build sides are the slim once-per-edge list)
    tri = (
        e1.join(e2.hint("shuffle_hash"), "v")
        .join(e3.hint("shuffle_hash"), ["u", "w"], "left_semi")
        .transform(materialize)
    )
    sup = None
    for i in range(KTRUSS_ROUNDS):
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
                        F.struct(F.col("v").alias("x"), F.col("w").alias("y")),
                        F.struct(F.col("u").alias("x"), F.col("w").alias("y")),
                    )
                ).alias("e")
            )
            .select("e.x", "e.y")
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("s"))
        )
        if i < KTRUSS_ROUNDS - 1:
            # edges appearing in a live triangle but below support: the
            # peel set. Materialized (eager, slim two-int rows) so each
            # anti-join probes a bounded build side once; count-gated
            # broadcast (see KTRUSS_PEEL_ROW_BYTES) keeps the
            # triangle list out of the anti-join exchanges entirely.
            removed = materialize(
                sup.where(F.col("s") < KTRUSS_SUPPORT).select(
                    F.col("x").alias("rx"), F.col("y").alias("ry")
                )
            )
            if fits_broadcast(removed.count(), KTRUSS_PEEL_ROW_BYTES):
                removed = F.broadcast(removed)
            else:  # huge peel: shuffled-hash, never sort the triangles
                removed = removed.hint("shuffle_hash")
            for ex, ey in (("u", "v"), ("v", "w"), ("u", "w")):
                tri = tri.join(
                    removed,
                    (F.col(ex) == F.col("rx")) & (F.col(ey) == F.col("ry")),
                    "left_anti",
                )
            tri = materialize(tri)
    return (
        sup.where(F.col("s") >= KTRUSS_SUPPORT)
        .select(
            F.col("x").alias("a"), F.col("y").alias("b"),
            F.col("s").alias("support"),
        )
        .orderBy("a", "b")
    )


q345.__doc__ = q345.__doc__.format(r=KTRUSS_ROUNDS, k=KTRUSS_SUPPORT)


# ------------------------------------------- DAG longest-path layering ----
DAG_LAYER_HOPS = 6


def _dag_layer_sql() -> str:
    arms = ["SELECT node, 0 AS d FROM nodes"]
    prior = "nodes"
    ctes = []
    for h in range(1, DAG_LAYER_HOPS + 1):
        ctes.append(
            f"""w{h} AS (
        SELECT DISTINCT e.b AS node
        FROM edges e JOIN {prior} s ON s.node = e.a)"""
        )
        arms.append(f"SELECT node, {h} AS d FROM w{h}")
        prior = f"w{h}"
    union = "\n    UNION ALL ".join(arms)
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH edges AS ({_SQL_EDGES}),
    nodes AS (SELECT DISTINCT a AS node FROM edges
              UNION SELECT DISTINCT b FROM edges),
    {cte_block},
    walks AS ({union}),
    lv AS (SELECT node, CAST(MAX(d) AS BIGINT) AS level FROM walks
           GROUP BY node)
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM lv GROUP BY level ORDER BY level
    """


@query("q367_dag_longest_path", oracle=_dag_layer_sql())
def q367(spark: SparkSession, sf: str) -> DataFrame:
    """Longest-path (critical-path) layering of the id-oriented
    co-purchase DAG — the scheduling-depth computation behind DAG
    batch planners (a node's layer = the longest dependency chain
    that must finish before it). The id orientation (a < b, the
    q201/q335 trick) makes the graph acyclic BY CONSTRUCTION, so
    "longest path ending at v" is well-defined; layers are computed
    over the MAX-PLUS semiring where q324's BFS uses MIN-plus — the
    docstring names that twin deliberately: same per-round
    frontier⋈edges equi-join + distinct + eager checkpoint loop, but
    no visited-set anti-join (a LATER arrival always wins under max,
    so re-reaching a node is progress, not waste), and the bounded
    {h}-hop form is the registered, oracle-checkable contract exactly
    as in q324.

    Scale: each round shuffles O(frontier·avg-degree) on the edge
    key; the final layering is one hash aggregate to max-depth per
    node and one to the O(H) layer histogram. At 100 TB the edge list
    is pre-partitioned by src so the loop's per-round exchange is the
    probe side only."""
    edges = _edges(spark, sf).transform(materialize)
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b")))
        .distinct()
        .transform(materialize)
    )
    walks = nodes.select("node", F.lit(0).alias("d"))
    frontier = nodes
    for h in range(1, DAG_LAYER_HOPS + 1):
        frontier = (
            edges.join(frontier, edges.a == frontier.node)
            .select(F.col("b").alias("node"))
            .distinct()
            .transform(materialize)
        )
        walks = walks.unionByName(frontier.select("node", F.lit(h).alias("d")))
    lv = walks.groupBy("node").agg(F.max("d").cast("long").alias("level"))
    return (
        lv.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("level")
    )


q367.__doc__ = q367.__doc__.format(h=DAG_LAYER_HOPS)


# ---------------------------------------------- Boruvka MST round ---------
BORUVKA_LABEL_HOPS = 8


def _boruvka_sql() -> str:
    ctes, prev = [], "l0"
    for h in range(1, BORUVKA_LABEL_HOPS + 1):
        ctes.append(
            # MATERIALIZED is load-bearing: each hop references the
            # previous one twice (n + m); inlined, DuckDB re-derives the
            # chain 2^h times and OOMs — materialized, each hop runs once
            f"""l{h} AS MATERIALIZED (
        SELECT n.node,
               least(n.lbl, COALESCE(MIN(m.lbl), n.lbl)) AS lbl
        FROM {prev} n
        LEFT JOIN fund u ON u.node = n.node
        LEFT JOIN {prev} m ON m.node = u.nbr
        GROUP BY n.node, n.lbl)"""
        )
        prev = f"l{h}"
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH we AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        WHERE x.l_partkey < y.l_partkey
        GROUP BY a, b
    ),
    und AS (SELECT a AS node, b AS nbr, w FROM we
            UNION ALL SELECT b, a, w FROM we),
    pick AS (
        SELECT node, nbr, w,
               ROW_NUMBER() OVER (PARTITION BY node
                    ORDER BY w DESC, nbr) AS rn
        FROM und QUALIFY rn = 1
    ),
    forest AS MATERIALIZED (
        SELECT DISTINCT least(node, nbr) AS u, greatest(node, nbr) AS v, w
        FROM pick
    ),
    fund AS MATERIALIZED (SELECT u AS node, v AS nbr FROM forest
             UNION ALL SELECT v, u FROM forest),
    l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM fund),
    {cte_block},
    comp AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
             FROM {prev} GROUP BY lbl)
    SELECT CAST((SELECT COUNT(*) FROM l0) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM forest) AS BIGINT) AS n_forest_edges,
           CAST((SELECT SUM(w) FROM forest) AS BIGINT) AS forest_weight,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(sz) AS BIGINT) AS largest_component
    FROM comp
    """


@query("q374_boruvka_round", oracle=_boruvka_sql())
def q374(spark: SparkSession, sf: str) -> DataFrame:
    """One Borůvka round of MAXIMUM-weight spanning-forest construction
    over the weighted co-purchase graph (edge weight = number of shared
    orders): every node claims its heaviest incident edge (ties to the
    smaller neighbor id), mutual claims collapse, and the claimed edge
    set is cycle-free by the standard Borůvka argument — the MST family
    the registry lacked (q108/q223 label components on the FULL graph;
    here the propagation runs on the O(n)-edge claimed FOREST, and the
    new work is the claim step + weight accounting). Repeating the
    round on contracted components yields the full MSF in O(log n)
    rounds; the registered, oracle-checkable form is one round plus
    {h}-hop min-label components of the forest — the same bounded-hop
    contract as q324/q367.

    Scale: edge weights are one hash aggregate on the (a, b) pair key;
    the claim is a per-node rank over incident edges (partitioned
    window, fan-out = degree); each label hop is a keyed
    forest⋈labels equi-join + min-aggregate, eagerly checkpointed —
    O(n) rows per round, the component-loop discipline of q108."""
    # round 12: weighted counts via _weighted_edge_counts (one aggregate
    # + row-local pair expansion, not a lineitem self-join — see there)
    we = _weighted_edge_counts(spark, sf).select(
        "a", "b", F.col("cnt").alias("w")
    )
    und = we.select(
        F.col("a").alias("node"), F.col("b").alias("nbr"), "w"
    ).unionByName(we.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w"))
    wp = W.partitionBy("node").orderBy(F.desc("w"), "nbr")
    pick = und.select(
        "node", "nbr", "w", F.row_number().over(wp).alias("rn")
    ).where(F.col("rn") == 1)
    forest = (
        pick.select(
            F.least("node", "nbr").alias("u"),
            F.greatest("node", "nbr").alias("v"),
            "w",
        )
        .distinct()
        .transform(materialize)
    )
    fund = (
        forest.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(forest.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .transform(materialize)
    )
    lbl = (
        fund.select("node").distinct().select("node", F.col("node").alias("lbl"))
        .transform(materialize)
    )
    for _ in range(BORUVKA_LABEL_HOPS):
        nbr_lbl = (
            fund.join(lbl.withColumnRenamed("node", "nbr2"),
                      fund.nbr == F.col("nbr2"))
            .groupBy("node")
            .agg(F.min("lbl").alias("nlbl"))
        )
        lbl = (
            lbl.join(nbr_lbl, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            )
            .transform(materialize)
        )
    comp = lbl.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    nn = lbl.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    fe = forest.agg(
        F.count(F.lit(1)).cast("long").alias("n_forest_edges"),
        F.sum("w").cast("long").alias("forest_weight"),
    )
    return (
        comp.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("largest_component"),
        )
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(fe))
        .select(
            "n_nodes",
            "n_forest_edges",
            "forest_weight",
            "n_components",
            "largest_component",
        )
    )


q374.__doc__ = q374.__doc__.format(h=BORUVKA_LABEL_HOPS)


# ------------------------------------------ HITS hubs & authorities --------
HITS_ROUNDS = 2
HITS_TOP = 15
_HITS_Q = 10**6  # L1-normalized score grid: scores sum to Q per side, so
# every update sum s <= Q and s*Q <= 1e12 stays far inside BIGINT


def _hits_sql() -> str:
    # every score table is referenced twice per round (update + norm):
    # MATERIALIZED or DuckDB re-derives the chain exponentially (q374)
    steps = []
    prev_a = "a0"
    for r in range(1, HITS_ROUNDS + 1):
        steps.append(f"""
    hraw{r} AS MATERIALIZED (
        SELECT e.c AS node, CAST(SUM(a.q) AS BIGINT) AS s
        FROM e JOIN {prev_a} a ON a.node = e.p GROUP BY e.c),
    hn{r} AS MATERIALIZED (
        SELECT CAST(SUM(s) AS BIGINT) AS t FROM hraw{r}),
    h{r} AS MATERIALIZED (
        SELECT node, CAST(s * {_HITS_Q} // t AS BIGINT) AS q
        FROM hraw{r}, hn{r}),
    araw{r} AS MATERIALIZED (
        SELECT e.p AS node, CAST(SUM(h.q) AS BIGINT) AS s
        FROM e JOIN h{r} h ON h.node = e.c GROUP BY e.p),
    an{r} AS MATERIALIZED (
        SELECT CAST(SUM(s) AS BIGINT) AS t FROM araw{r}),
    a{r} AS MATERIALIZED (
        SELECT node, CAST(s * {_HITS_Q} // t AS BIGINT) AS q
        FROM araw{r}, an{r})""")
        prev_a = f"a{r}"
    body = ",".join(steps)
    return f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    a0 AS MATERIALIZED (
        SELECT p AS node, CAST(1 AS BIGINT) AS q
        FROM (SELECT DISTINCT p FROM e)
    ),{body},
    ranked AS (
        SELECT 'hub' AS side, node, q,
               ROW_NUMBER() OVER (ORDER BY q DESC, node) AS rk
        FROM h{HITS_ROUNDS}
        UNION ALL
        SELECT 'authority', node, q,
               ROW_NUMBER() OVER (ORDER BY q DESC, node) AS rk
        FROM a{HITS_ROUNDS}
    )
    SELECT side, CAST(rk AS BIGINT) AS rk, node,
           CAST(q AS DOUBLE) / {_HITS_Q} AS score
    FROM ranked WHERE rk <= {HITS_TOP}
    ORDER BY side, rk
    """


@query("q388_hits_hubs_authorities", oracle=_hits_sql())
def q388(spark: SparkSession, sf: str) -> DataFrame:
    """HITS (hubs & authorities), {r} unrolled rounds over the bipartite
    customer↔part purchase graph: a customer is a good HUB if they buy
    authoritative parts, a part a good AUTHORITY if good hubs buy it —
    two mutually recursive scores PageRank's single random-surfer score
    (q200) collapses; on a bipartite graph PageRank just leaks across
    sides while HITS is the native algorithm (it IS SALSA's ancestor
    and the shape of every "power users / flagship products" report).
    Per round: hub = sum of neighbor authority scores, L1-normalize,
    authority = sum of neighbor hub scores, L1-normalize. All score
    state lives on the exact {q}-unit integer grid (q200's discipline):
    sums are BIGINT (order-free), normalization is integer floor
    division — both engines bit-identical with NO floats until the
    final display column.

    Scale: the edge list is one orders⋈lineitem join deduped; each
    update is one keyed equi-join + hash aggregate, O(E) per round with
    edges pre-partitionable by the probe key; norms are 1-row
    broadcasts. The final top-{t} per side is a rank over the two
    O(V) score tables."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(materialize)
    )
    a = e.select("p").distinct().select(
        F.col("p").alias("node"), F.lit(1).cast("long").alias("q")
    )
    h = None
    for _ in range(HITS_ROUNDS):
        hraw = (
            e.join(a.withColumnRenamed("node", "p"), "p")
            .groupBy(F.col("c").alias("node"))
            .agg(F.sum("q").cast("long").alias("s"))
        )
        hn = hraw.agg(F.sum("s").cast("long").alias("t"))
        h = (
            hraw.crossJoin(F.broadcast(hn))
            .select(
                "node",
                F.expr(f"CAST(s * {_HITS_Q} div t AS BIGINT)").alias("q"),
            )
            .transform(materialize)
        )
        araw = (
            e.join(h.withColumnRenamed("node", "c"), "c")
            .groupBy(F.col("p").alias("node"))
            .agg(F.sum("q").cast("long").alias("s"))
        )
        an = araw.agg(F.sum("s").cast("long").alias("t"))
        a = (
            araw.crossJoin(F.broadcast(an))
            .select(
                "node",
                F.expr(f"CAST(s * {_HITS_Q} div t AS BIGINT)").alias("q"),
            )
            .transform(materialize)
        )
    wk = W.orderBy(F.desc("q"), "node")

    def top(df: DataFrame, side: str) -> DataFrame:
        # TakeOrdered first (no global sort materializes), THEN the rank
        # window runs over the LIMIT-k rows only (q325 class)
        lim = df.orderBy(F.desc("q"), "node").limit(HITS_TOP)
        return lim.select(
            F.lit(side).alias("side"),
            F.row_number().over(wk).cast("long").alias("rk"),
            "node",
            (F.col("q").cast("double") / F.lit(float(_HITS_Q))).alias("score"),
        )

    return top(h, "hub").unionByName(top(a, "authority")).orderBy("side", "rk")


q388.__doc__ = q388.__doc__.format(r=HITS_ROUNDS, q=_HITS_Q, t=HITS_TOP)


# ----------------------------- Bellman-Ford (weighted SSSP, k rounds) ------
BF_ROUNDS = 4
BF_TOP = 20


def _bellman_ford_sql() -> str:
    steps, prev = [], "d0"
    for r in range(1, BF_ROUNDS + 1):
        # MATERIALIZED: each round reads the previous distance table twice
        # (carry + relax) — inlined, DuckDB re-derives the chain 2^r times
        steps.append(f"""
    d{r} AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT u.nbr AS node, p.dist + u.w AS dist
            FROM {prev} p JOIN und u ON u.node = p.node
        ) GROUP BY node)""")
        prev = f"d{r}"
    body = ",".join(steps)
    return f"""
    WITH we AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b,
               CAST(1000000 // COUNT(*) AS BIGINT) AS w
        FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        WHERE x.l_partkey < y.l_partkey
        GROUP BY x.l_partkey, y.l_partkey
    ),
    und AS MATERIALIZED (
        SELECT a AS node, b AS nbr, w FROM we
        UNION ALL SELECT b, a, w FROM we
    ),
    src AS MATERIALIZED (SELECT MIN(node) AS s FROM und),
    d0 AS MATERIALIZED (
        SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src
    ),{body},
    reach AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS reached,
               CAST(MAX(dist) AS BIGINT) AS max_dist
        FROM {prev}
    ),
    top AS (
        SELECT node, dist FROM {prev} ORDER BY dist, node LIMIT {BF_TOP}
    )
    SELECT t.node, CAST(t.dist AS BIGINT) AS dist_cost,
           r.reached, r.max_dist
    FROM top t CROSS JOIN reach r
    ORDER BY dist_cost, node
    """


@query("q389_bellman_ford_sssp", oracle=_bellman_ford_sql())
def q389(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted single-source shortest paths, {r} Bellman-Ford rounds
    over the co-purchase graph with edge cost 1e6/shared-orders (the
    frequently-co-bought pair is the cheap hop) from the smallest part
    id — the WEIGHTED member of the traversal family: q324's BFS counts
    hops (all edges cost 1), q367 runs MAX-plus on a DAG; this is
    MIN-plus relaxation on a cyclic weighted graph, the semiring
    recommendation/routing engines actually need. Each round is the
    full relaxation d_{{r+1}}(v) = min(d_r(v), min over (u,v) of d_r(u)
    + w) — after k rounds distances using ≤ k edges are exact (the
    Bellman-Ford invariant), the registered bounded-round contract of
    q324/q367/q374. Costs are BIGINT; MIN is order-free; no floats
    anywhere.

    Scale: edge weights are one self-join hash aggregate; each round is
    one keyed equi-join (frontier⋈edges, edges pre-partitionable by
    node) + one MIN hash aggregate, eagerly checkpointed so round r+1
    reads a frozen O(V) table, never a re-derivation (the q108
    component-loop discipline). The top-{t} report is a TakeOrdered."""
    # round 12: weighted counts via _weighted_edge_counts (one aggregate
    # + row-local pair expansion, not a lineitem self-join — see there)
    we = _weighted_edge_counts(spark, sf).select(
        "a", "b", F.expr("CAST(1000000 div cnt AS BIGINT)").alias("w")
    )
    und = (
        we.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w")
        .unionByName(
            we.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
        )
        .transform(materialize)
    )
    d = (
        und.agg(F.min("node").alias("node"))
        .select("node", F.lit(0).cast("long").alias("dist"))
        .transform(materialize)
    )
    for _ in range(BF_ROUNDS):
        relaxed = (
            und.join(d.withColumnRenamed("node", "u"), und.node == F.col("u"))
            .select(F.col("nbr").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .transform(materialize)
        )
    reach = d.agg(
        F.count(F.lit(1)).cast("long").alias("reached"),
        F.max("dist").cast("long").alias("max_dist"),
    )
    top = d.orderBy("dist", "node").limit(BF_TOP)
    return (
        top.crossJoin(F.broadcast(reach))
        .select(
            "node",
            F.col("dist").alias("dist_cost"),
            "reached",
            "max_dist",
        )
        .orderBy("dist_cost", "node")
    )


q389.__doc__ = q389.__doc__.format(r=BF_ROUNDS, t=BF_TOP)


# --------------------------- BOM explosion (sum-product semiring) ----------
BOM_LEVELS = 3


def _bom_sql() -> str:
    steps, prev = [], "l0"
    for r in range(1, BOM_LEVELS + 1):
        steps.append(f"""
    l{r} AS MATERIALIZED (
        SELECT p.root, e.child AS node,
               CAST(SUM(p.eff * e.qty) AS BIGINT) AS eff
        FROM l{r - 1} p JOIN edges e ON e.parent = p.node
        GROUP BY p.root, e.child)""")
        prev = f"l{r}"
    body = ",".join(steps)
    levels = "\n        UNION ALL ".join(
        f"SELECT root, {r} AS lvl, node, eff FROM l{r}"
        for r in range(1, BOM_LEVELS + 1)
    )
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT p_partkey // 10 AS parent, p_partkey AS child,
               CAST(p_partkey % 7 + 1 AS BIGINT) AS qty
        FROM part WHERE p_partkey >= 10
    ),
    l0 AS MATERIALIZED (
        SELECT p_partkey AS root, p_partkey AS node, CAST(1 AS BIGINT) AS eff
        FROM part WHERE p_partkey < 10
    ),{body},
    allv AS ({levels})
    SELECT root, CAST(lvl AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(eff) AS BIGINT) AS units,
           CAST(MAX(eff) AS BIGINT) AS max_units
    FROM allv GROUP BY root, lvl ORDER BY root, lvl
    """


@query("q393_bom_explosion", oracle=_bom_sql())
def q393(spark: SparkSession, sf: str) -> DataFrame:
    """Bill-of-materials explosion, {h} levels: effective component
    quantities per root assembly under the SUM-PRODUCT semiring —
    eff(child) = Σ over parents of eff(parent)·qty(edge) — the
    manufacturing/requirements-planning rollup that completes the
    registry's semiring family (q324 BFS = boolean, q367 = MAX-plus,
    q389 = MIN-plus, this = sum-product; q133 walks the paths, q304
    sums a static measure UP the tree — neither multiplies quantities
    ALONG paths). The hierarchy is the deterministic base-10 trie on
    p_partkey (parent = key div 10, qty = key mod 7 + 1), so both
    engines derive the identical DAG; quantities are BIGINT products
    summed exactly.

    Scale: each level is one keyed equi-join (frontier⋈edges, edges
    pre-partitionable by parent) + one hash aggregate on (root,
    child), eagerly checkpointed per round (q108 loop discipline);
    the report is one bounded aggregate over (root, level)."""
    p = load_table(spark, sf, "part").select("p_partkey")
    edges = (
        p.where(F.col("p_partkey") >= 10)
        .select(
            F.expr("p_partkey div 10").alias("parent"),
            F.col("p_partkey").alias("child"),
            (F.col("p_partkey") % 7 + 1).cast("long").alias("qty"),
        )
        .transform(materialize)
    )
    frontier = p.where(F.col("p_partkey") < 10).select(
        F.col("p_partkey").alias("root"),
        F.col("p_partkey").alias("node"),
        F.lit(1).cast("long").alias("eff"),
    )
    levels = None
    for r in range(1, BOM_LEVELS + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.parent)
            .groupBy("root", F.col("child").alias("node2"))
            .agg(F.sum(F.col("eff") * F.col("qty")).cast("long").alias("eff"))
            .withColumnRenamed("node2", "node")
            .transform(materialize)
        )
        lv = frontier.select("root", F.lit(r).cast("long").alias("lvl"), "eff")
        levels = lv if levels is None else levels.unionByName(lv)
    return (
        levels.groupBy("root", "lvl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("eff").cast("long").alias("units"),
            F.max("eff").cast("long").alias("max_units"),
        )
        .orderBy("root", "lvl")
    )


q393.__doc__ = q393.__doc__.format(h=BOM_LEVELS)


# ----------------------- harmonic centrality (multi-source BFS) -----------
HC_SEEDS = 10
HC_HOPS = 3
HC_TOP = 20


def _harmonic_sql() -> str:
    hops = []
    for h in range(2, HC_HOPS + 1):
        hops.append(f"""
    r{h} AS MATERIALIZED (
        SELECT DISTINCT r.seed, u.nbr AS node
        FROM r{h - 1} r JOIN und u ON u.node = r.node)""")
    body = ",".join(hops)
    unions = "\n        UNION ALL ".join(
        f"SELECT seed, node, {h} AS d FROM r{h}"
        for h in range(1, HC_HOPS + 1)
    )
    return f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES}),
    und AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM edges
        UNION ALL SELECT b, a FROM edges
    ),
    seeds AS MATERIALIZED (
        SELECT node FROM (SELECT DISTINCT node FROM und)
        ORDER BY node LIMIT {HC_SEEDS}
    ),
    r1 AS MATERIALIZED (
        SELECT DISTINCT s.node AS seed, u.nbr AS node
        FROM seeds s JOIN und u ON u.node = s.node
    ),{body},
    dist AS (
        SELECT seed, node, MIN(d) AS d
        FROM ({unions})
        WHERE node <> seed GROUP BY seed, node
    ),
    h AS (
        SELECT node, CAST(SUM(6 // d) AS BIGINT) AS h6,
               CAST(COUNT(*) FILTER (WHERE d = 1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (WHERE d = 2) AS BIGINT) AS n2,
               CAST(COUNT(*) FILTER (WHERE d = 3) AS BIGINT) AS n3
        FROM dist GROUP BY node
    )
    SELECT node, h6, n1, n2, n3
    FROM h ORDER BY h6 DESC, node LIMIT {HC_TOP}
    """


@query("q399_harmonic_centrality", oracle=_harmonic_sql())
def q399(spark: SparkSession, sf: str) -> DataFrame:
    """Harmonic centrality from {s} pivot seeds, {h}-hop bounded
    multi-source BFS — Σ 1/d(seed, ·), the centrality that handles
    disconnected graphs where closeness (1/Σd) degenerates, and the
    standard pivot-sampling estimator (Eppstein-Wang) for exact
    all-pairs being O(V·E): q200's PageRank scores by random-surfer
    mass, q388's HITS by bipartite endorsement; harmonic is the
    pure DISTANCE centrality — "how quickly can this part be reached
    from anywhere". With hop distances ∈ {{1..{h}}} the harmonic sum
    is exact on the 1/6-LCM integer grid (6/d ∈ {{6,3,2}}) — no
    float division, ties pinned by node id.

    Scale: one multi-source frontier carries (seed, node) pairs —
    {s}× the single-source state, ONE traversal instead of {s}
    sequential BFS runs; each hop is a keyed frontier⋈edges equi-join
    + distinct, eagerly checkpointed (q324/q389 loop discipline);
    first-reach distances resolve in one MIN aggregate at the end
    instead of per-round anti-joins (the q367 later-arrivals-lose
    trick inverted: MIN wins). Top-{t} is a TakeOrdered."""
    und = (
        _edges(spark, sf)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("node"), F.col("b").alias("nbr")),
                    F.struct(F.col("b").alias("node"), F.col("a").alias("nbr")),
                )
            ).alias("e")
        )
        .select("e.node", "e.nbr")
        .transform(materialize)
    )
    seeds = (
        und.select("node").distinct().orderBy("node").limit(HC_SEEDS)
    )
    frontier = (
        und.join(seeds.withColumnRenamed("node", "s"), und.node == F.col("s"))
        .select(F.col("s").alias("seed"), F.col("nbr").alias("node"))
        .distinct()
        .transform(materialize)
    )
    reached = frontier.select("seed", "node", F.lit(1).alias("d"))
    for h in range(2, HC_HOPS + 1):
        frontier = (
            frontier.join(und.withColumnRenamed("node", "fn"), frontier.node == F.col("fn"))
            .select("seed", F.col("nbr").alias("node"))
            .distinct()
            .transform(materialize)
        )
        reached = reached.unionByName(
            frontier.select("seed", "node", F.lit(h).alias("d"))
        )
    dist = (
        reached.where(F.col("node") != F.col("seed"))
        .groupBy("seed", "node")
        .agg(F.min("d").alias("d"))
    )
    hc = dist.groupBy("node").agg(
        F.sum(F.expr("6 div d")).cast("long").alias("h6"),
        F.sum((F.col("d") == 1).cast("int")).cast("long").alias("n1"),
        F.sum((F.col("d") == 2).cast("int")).cast("long").alias("n2"),
        F.sum((F.col("d") == 3).cast("int")).cast("long").alias("n3"),
    )
    return hc.orderBy(F.desc("h6"), "node").limit(HC_TOP)


# --------------------- dwell-time-weighted Markov transitions --------------
@query(
    "q402_dwell_time_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER w AS dst,
               LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS dwell_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us
        FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           CAST(total_dwell_us // n AS BIGINT) AS mean_dwell_us,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY src) AS BIGINT)
               AS p_ppm,
           CAST((total_dwell_us // 1000) * 1000000
                // SUM(total_dwell_us // 1000) OVER (PARTITION BY src)
                AS BIGINT) AS time_share_ppm
    FROM t ORDER BY src, dst
    """,
)
def q402(spark: SparkSession, sf: str) -> DataFrame:
    """Dwell-time-weighted Markov transitions: q204's transition matrix
    extended with HOW LONG users sit in each state before the hop —
    mean dwell microseconds per (src, dst) and each destination's
    share of the source's total dwell TIME, not just its click count.
    The two shares answer different product questions: p_ppm is
    "where do users go next", time_share_ppm is "where does their
    TIME go" — a rare transition that absorbs most of the dwell is
    invisible in q204 and dominant here (the semi-Markov process
    view). All integers: dwell sums are exact micros, shares exact
    ppm by integer division — unlike q204's rounded double p, nothing
    floats.

    Scale: identical to q204 — one LEAD window on the user_id
    partitioning (dwell rides the SAME window as the destination,
    zero extra shuffle), one hash aggregate to the bounded state×state
    table; the share windows run over ≤25 rows."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        (F.lead(us).over(w) - us).alias("dwell_us"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dwell_us").cast("long").alias("total_dwell_us"),
    )
    ws = W.partitionBy("src")
    return (
        t.select(
            "src",
            "dst",
            "n",
            F.expr("CAST(total_dwell_us div n AS BIGINT)").alias(
                "mean_dwell_us"
            ),
            F.expr(
                "CAST(n * 1000000 div (SUM(n) OVER (PARTITION BY src))"
                " AS BIGINT)"
            ).alias("p_ppm"),
            # share on the millisecond grid: µs totals × 1e6 overflow
            # BIGINT at the driver SF (1.4e13 µs per source state); the
            # ms twin keeps the product under 2^63 through 100× growth
            F.expr(
                "CAST((total_dwell_us div 1000) * 1000000 div"
                " (SUM(total_dwell_us div 1000) OVER (PARTITION BY src))"
                " AS BIGINT)"
            ).alias("time_share_ppm"),
        )
        .orderBy("src", "dst")
    )
