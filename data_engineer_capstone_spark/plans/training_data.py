"""Training-data preparation queries, batch 2 (q237-q243): context-window
chunking, cluster-canonical selection, deterministic weighted sampling,
rolling robust statistics, bigram-LM novelty scoring, link prediction, and
the prefix-filtered exact-Jaccard scale twin.

These extend the LLM-pipeline surface of `plans/extensions.py` — same
oracle policy (full DuckDB oracle wherever semantics are deterministic
cross-engine) and same scale discipline (candidate generation through
equi-join keys, integer/quantized arithmetic at every cross-engine float
boundary, no O(n²) pair spaces, no driver-side loops).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..materialize import materialize
from ..catalog import load_table
from ..functions.text import h64, word_count, words
from ..operators.dedup import jaccard_prefix_filter_pairs, minhash_lsh_pairs
from ..sizing import broadcast_rows, expansion_partitions, fits_broadcast
from .extensions import _H64, _WORDS, JACCARD_PAIRS_ORACLE, _minhash_ctes
from .graph_behavior import _SQL_EDGES, _edges
from .registry import query

# --------------------------------------------------------------- chunking --
CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@query(
    "q237_doc_chunking",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS.format(c='text')} AS ws FROM documents
    ),
    s AS (
        SELECT doc_id, ws, len(ws) AS n,
               unnest(range(1, len(ws) + 1, {CHUNK_STRIDE})) AS st
        FROM w WHERE len(ws) > 0
    )
    SELECT doc_id,
           (st - 1) // {CHUNK_STRIDE} AS chunk_idx,
           array_to_string(ws[st:st + {CHUNK_SIZE - 1}], ' ') AS chunk_text,
           least({CHUNK_SIZE}, n - st + 1) AS n_tokens
    FROM s ORDER BY doc_id, chunk_idx
    """,
)
def q237(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: each document split into overlapping
    {size}-token windows at stride {stride} (the standard LM pretraining
    prep — trailing overlap keeps cross-boundary n-grams learnable).
    Chunk starts are a per-row ``sequence(1, n_words, stride)`` exploded
    into slim (doc, start) rows; the chunk text is a row-local
    ``slice`` + ``array_join`` — zero shuffles, pure map-side work that
    scales with input bytes. The final chunk is the natural short
    remainder (``n_tokens`` carries its true length for the packer —
    q110's sequence-packing input contract)."""
    docs = load_table(spark, sf, "documents")
    w = words("text")
    n = F.size(w)
    base = docs.where(n > 0).select("doc_id", w.alias("ws"), n.alias("n"))
    s = base.select(
        "doc_id", "ws", "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STRIDE))).alias("st"),
    )
    return s.select(
        "doc_id",
        F.floor((F.col("st") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.array_join(F.slice("ws", F.col("st"), CHUNK_SIZE), " ").alias("chunk_text"),
        F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("st") + 1)
        .cast("long")
        .alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


q237.__doc__ = q237.__doc__.format(size=CHUNK_SIZE, stride=CHUNK_STRIDE)


# ------------------------------------------------- cluster keep-best pick --
def _quality_votes(col) -> Column:
    """Integer vote count (0..3) behind functions/text.quality_score —
    same three gates, no final /3 division, so cluster-canonical ordering
    is exact integer comparison in both engines."""
    col = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(col)
    n_words = word_count(col)
    alnum = F.length(F.regexp_replace(col, "[^A-Za-z0-9]", ""))
    len_ok = (n_words >= 5) & (n_words <= 100000)
    awl = F.when(n_words > 0, (alnum * 10) / n_words).otherwise(F.lit(0.0))
    awl_ok = (awl >= 25) & (awl <= 120)
    dens = F.when(n_chars > 0, (alnum * 100) / n_chars).otherwise(F.lit(0.0))
    dens_ok = dens >= 60
    return (len_ok.cast("int") + awl_ok.cast("int") + dens_ok.cast("int")).alias(
        "q_votes"
    )


_SQL_QUALITY_VOTES = f"""
    SELECT doc_id,
           CAST((CASE WHEN nw >= 5 AND nw <= 100000 THEN 1 ELSE 0 END
               + CASE WHEN nw > 0 AND (alnum * 10.0 / nw) >= 25
                       AND (alnum * 10.0 / nw) <= 120 THEN 1 ELSE 0 END
               + CASE WHEN nc > 0 AND (alnum * 100.0 / nc) >= 60 THEN 1 ELSE 0 END)
             AS INT) AS q_votes
    FROM (SELECT doc_id, length(text) AS nc,
                 len({_WORDS.format(c='text')}) AS nw,
                 length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum
          FROM documents)
"""


@query(
    "q238_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.8),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
        FROM reach GROUP BY src
    ),
    labeled AS (
        SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    qv AS ({_SQL_QUALITY_VOTES})
    SELECT l.doc_id, l.canonical_id, qv.q_votes,
           CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY l.canonical_id
                    ORDER BY qv.q_votes DESC, l.doc_id) = 1
                THEN 1 ELSE 0 END AS keep
    FROM labeled l JOIN qv USING (doc_id)
    ORDER BY doc_id
    """,
)
def q238(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-representative selection — the curation step AFTER
    near-dup clustering (q108): inside each cluster keep the
    highest-quality document (integer quality votes, doc_id tie-break),
    drop the rest. This is what production dedup actually ships: pair
    detection (q92) → components (q108) → ONE survivor per cluster chosen
    by a quality policy, not by accident of id order. Plan: the q108
    cluster labels (MinHash-LSH pairs + distributed components) joined to
    a row-local vote expression, then a per-cluster ``row_number`` —
    partitioned window, O(cluster) state, no global sort."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, k=3, n_perm=16, band_rows=4, threshold=0.8)
    labels = connected_components(pairs, docs)
    labeled = docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("canonical_id"),
        _quality_votes("text"),
    )
    keep = (
        F.row_number().over(
            W.partitionBy("canonical_id").orderBy(F.desc("q_votes"), "doc_id")
        )
        == 1
    ).cast("int")
    return labeled.withColumn("keep", keep).orderBy("doc_id")


# ------------------------------------------- deterministic weighted top-k --
_TWO_POW_60 = 1152921504606846976


@query(
    "q239_weighted_sample",
    oracle=f"""
    SELECT o_orderkey, weight FROM (
        SELECT o_orderkey, o_totalprice AS weight,
               CAST(floor(
                   ln((CAST(('0x' || substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                            AS BIGINT) + 1) / {_TWO_POW_60}.0)
                   / o_totalprice * 1e12) AS BIGINT) AS k
        FROM orders ORDER BY k DESC, o_orderkey LIMIT 100
    ) ORDER BY o_orderkey
    """,
)
def q239(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, one pass, fully
    deterministic — the Efraimidis-Spirakis A-ES scheme: each row draws
    u ∈ (0,1] from a salted hash of its key (not ``rand()`` — reruns and
    retried tasks must agree, the q109 argument) and takes priority
    ``ln(u)/w``; the global top-k by priority IS a weighted sample
    without replacement. At scale this is Spark's ``TakeOrderedAndProject``:
    each partition keeps its local top-k heap, the driver merges k-sized
    heads — no global sort, no shuffle of the data, O(k) rows move.
    The priority is compared, never emitted, AND quantized to integer
    units of 1e-12 (floor) with the key as tie-break before ranking: JVM
    Math.log and DuckDB's C libm may differ by an ulp, and an unquantized
    near-tie at the rank-k boundary could select different rows per
    engine — after quantization an ulp flips the selection only when the
    scaled priority straddles an integer (~1e-8/row), and the key
    tie-break resolves every manufactured tie identically."""
    orders = load_table(spark, sf, "orders")
    u = (
        h64(F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string"))) + 1
    ) / F.lit(float(_TWO_POW_60))
    k = F.floor(F.log(u) / F.col("o_totalprice") * F.lit(1e12)).cast("long")
    top = (
        orders.select(
            "o_orderkey", F.col("o_totalprice").alias("weight"), k.alias("k")
        )
        .orderBy(F.desc("k"), "o_orderkey")
        .limit(100)
    )
    return top.select("o_orderkey", "weight").orderBy("o_orderkey")


@query(
    "q251_grouped_weighted_sample",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey, weight FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice AS weight,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(floor(
                            ln((CAST(('0x' || substr(md5('gws:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                                     AS BIGINT) + 1) / {_TWO_POW_60}.0)
                            / o_totalprice * 1e12) AS BIGINT) DESC,
                            o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 20 ORDER BY o_orderpriority, o_orderkey
    """,
)
def q251(spark: SparkSession, sf: str) -> DataFrame:
    """q239 per stratum: a weighted sample WITHOUT replacement of k=20
    rows from EVERY group (the 'k docs per domain, weighted by quality'
    curation op) — same deterministic Efraimidis-Spirakis priorities,
    selected by a PARTITIONED row_number instead of a global top-k:
    per-group window state, one shuffle on the group key, no global sort,
    no driver involvement — the per-stratum sampler that runs at any
    group cardinality. The priority stays comparison-only (never emitted)
    and is floor-quantized to 1e-12 units with the key tie-break, the
    q239 bit-stability argument."""
    orders = load_table(spark, sf, "orders")
    u = (
        h64(F.concat(F.lit("gws:"), F.col("o_orderkey").cast("string"))) + 1
    ) / F.lit(float(_TWO_POW_60))
    k = F.floor(F.log(u) / F.col("o_totalprice") * F.lit(1e12)).cast("long")
    w = W.partitionBy("o_orderpriority").orderBy(k.desc(), "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").alias("weight"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 20)
        .select("o_orderpriority", "o_orderkey", "weight")
        .orderBy("o_orderpriority", "o_orderkey")
    )


# ------------------------------------------------------- rolling median ----
@query(
    "q240_rolling_median",
    oracle="""
    WITH l AS (
        SELECT user_id, event_id,
               list_sort(list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS lst
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT user_id, event_id, len(lst) AS n,
               CASE WHEN len(lst) % 2 = 1 THEN lst[(len(lst) + 1) // 2]
                    ELSE (lst[len(lst) // 2] + lst[len(lst) // 2 + 1]) / 2
               END AS med
        FROM l
    )
    SELECT user_id, event_id,
           CAST(floor(med * 1000000 + 0.5) AS BIGINT) AS med_q
    FROM m ORDER BY user_id, event_id
    """,
)
def q240(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT rolling median (trailing 7-row frame per user) — the robust
    smoother `percentile_approx` can't give exactly and SQL has no
    native window form for. Implementation: ``collect_list`` over the
    rows-frame (bounded at 7 elements — O(frame) per row, not O(partition)),
    ``array_sort``, middle-element arithmetic. Even frames average the two
    middle values with the same IEEE ``(a+b)/2`` both engines execute;
    the output quantizes at 1e-6. At scale the single shuffle is the
    user_id partitioning every per-user window shares; frame state is
    constant-bounded so executor memory is O(rows-in-flight), never
    O(partition)."""
    win = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    )
    # explicit null gate: Spark's collect_list silently DROPS nulls while
    # DuckDB's list() window retains them — without this filter the two
    # engines would compute different medians (and different frame sizes)
    # the moment a null value appears; the null contract is pinned, not
    # accidental
    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    lst = F.array_sort(F.collect_list("value").over(win))
    n = F.size(lst)
    odd = F.element_at(lst, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(lst, (n / 2).cast("int"))
        + F.element_at(lst, (n / 2).cast("int") + 1)
    ) / 2
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return (
        ev.select("user_id", "event_id", med.alias("med"))
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("med") * 1000000 + F.lit(0.5)).cast("long").alias("med_q"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------------------------------------------------ bigram LM novelty --
@query(
    "q241_bigram_novelty",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS.format(c='text')} AS ws FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(ws[1:len(ws) - 1]) AS w1,
               unnest(ws[2:len(ws)]) AS w2
        FROM w WHERE len(ws) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS cnt12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM bg GROUP BY w1),
    terms AS (
        SELECT doc_id,
               CAST(floor(cnt1 / cnt12 * 1000000 + 0.5) AS BIGINT) AS t
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(t) AS BIGINT) AS s
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(floor(s / n_bigrams + 0.5) AS BIGINT) AS avg_ratio_q
    FROM agg ORDER BY doc_id
    """,
)
def q241(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram-LM novelty score per document: train conditional
    bigram counts C(w1,w2), C(w1·) over the whole corpus, score each doc
    by its mean INVERSE conditional frequency C(w1·)/C(w1,w2) — high
    means the doc's word transitions are rare for their context, the
    gibberish/boilerplate-outlier curation signal (q220's unigram
    surprisal one order up). The plan is the full distributed LM-scoring
    shape: token-pair explode → two hash aggregates (model train) → two
    equi-joins back onto the token stream (scoring) → per-doc aggregate.
    Common-bigram skew on the join key is the documented AQE-skew-join
    case. Exactness: each per-occurrence term is an IEEE division of two
    bigints quantized to 1e-6 — identical bits in both engines (division
    is a rounded IEEE op, unlike libm ln, which is why production's
    ``-ln(C12/C1)`` is expressed here as the ratio: same ordering, same
    plan, none of the cross-libm hash risk); per-doc sums are integer."""
    docs = load_table(spark, sf, "documents")
    w = words("text")
    n = F.size(w)
    bg = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(w, i).alias("w1"), F.element_at(w, i + 1).alias("w2")
        ),
    )
    ex = (
        docs.where(n >= 2)
        .select("doc_id", F.explode(bg).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt12"))
    c1 = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    terms = (
        ex.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .select(
            "doc_id",
            F.floor(F.col("cnt1") / F.col("cnt12") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("t"),
        )
    )
    agg = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("t").alias("s")
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.floor(F.col("s") / F.col("n_bigrams") + F.lit(0.5))
        .cast("long")
        .alias("avg_ratio_q"),
    ).orderBy("doc_id")


# ---------------------------------------------------- link prediction ------


def common_neighbor_counts(
    edges: DataFrame, degree_cap: int | None = None
) -> DataFrame:
    """Common-neighbor counts for non-adjacent pairs from an undirected
    edge list ``(a, b)`` with a < b.

    ``degree_cap`` is the hot-bucket guard (the q91 ``df_cap`` pattern for
    graphs): wedge fan-out is Σ deg(n)² and ONE hub node (a
    sold-with-everything part, a follow-everyone account) dominates the
    whole job. Nodes whose degree exceeds the cap are excluded from the
    WEDGE-CENTER role — their own pair counts drop, every other count is
    unchanged (a wedge is counted at its center, so capping a center
    never perturbs wedges centered elsewhere). ``None`` keeps the exact
    contract; the capped path is covered by a crafted hub-graph pytest.

    Spill-aware sizing (round 7): the wedge stream is Σ d(d-1)/2 rows —
    ~124× the edge list on the sf0.1 co-purchase graph — so at the
    session's shuffle width each task's aggregation state is O(wedges/
    partitions), and the round-7 shuffle audit measured the sort-fallback
    cost of ignoring that: 24.3 GiB memory / 1.8 GiB disk spilled at
    sf0.1 (a run's spill bytes now come from `tools/profile_query.py`).
    The operator therefore sizes its own exchanges from the data:
    one O(1) scalar job on the (materialized) edge list computes the
    exact wedge count from the degree histogram, and both the wedge join
    and the pair aggregate run at ``wedges / 750k``
    (``sizing.expansion_partitions``)
    partitions (floored at the session width, capped at 65536). The
    repartition carries the slim und list (O(edges)); the pair aggregate
    reuses the explicit (a, b) partitioning, so partial+final collapse
    into one stage with ~750k rows of state per task —
    the same shuffled bytes as before, now spill-free. At 100 TB the
    formula is the point: partition count grows with Σ deg², not with a
    config guess.

    CONTRACT NOTE — eager execution at plan-construction time: because
    the sizing scalar needs real data, CALLING this function executes
    jobs (the ``materialize(edges)`` derivation — a localCheckpoint, or a
    reliable checkpoint write under ``SPARK_GRAFT_CHECKPOINT=reliable`` —
    plus the O(1) degree-histogram aggregate). A caller that only wants
    to build/EXPLAIN the plan pays that cost too; plan-only tooling
    should skip this operator or accept the two bounded jobs. Top-k
    callers go through :func:`common_neighbor_topk`, which reaches this
    plan only when the edge list is over its broadcast budget; under the
    budget its one eager job is a bounded collect, with no checkpoint
    and no sizing scalar.
    """
    # the edge list is probed three times (degree histogram, und
    # derivation, anti-join build) — derive it once
    edges = materialize(edges)
    # one derivation of the edge list, both orientations via explode
    # (a self-union re-plans the upstream edge derivation per branch)
    und = (
        edges
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

    if degree_cap is not None:
        # degrees via groupBy + join, NOT a whole-partition window: for
        # exactly the hub nodes this cap guards against, an unbounded
        # window would materialize the hub's full O(deg) partition on one
        # task BEFORE filtering — the hot-partition cost the cap exists to
        # avoid. groupBy keeps the hub's count in mergeable partials, and
        # the node->degree table (O(nodes), slim) broadcasts.
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        und = (
            und.join(F.broadcast(deg.where(F.col("_deg") <= degree_cap)), "src")
            .drop("_deg")
        )
    # exact wedge count from the (possibly capped) degree histogram — an
    # O(1) scalar over O(nodes) partials on the materialized edge list
    # (the q200 count-seeding precedent: one tiny eager job beats a 1-row
    # crossJoin that re-plans the subtree under every use)
    wedge_est = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - F.lit(1)) / 2).alias("w"))
        .collect()[0][0]
    )
    n_part = expansion_partitions(edges.sparkSession, wedge_est)
    und = und.repartition(n_part, "src")
    # SHUFFLE_HASH (round-6 rule (c2), SCALE.md): the wedge expansion
    # feeds only the hash aggregate and the cn stream feeds only the
    # anti probe + TakeOrdered — SMJ would sort both big streams for
    # nothing (measured 39-61 s -> 23-28 s at sf0.1). Build sides are
    # the slim undirected list / edge list, per-partition O(rows/parts);
    # both und arms share the explicit n_part src-partitioning, so the
    # join adds no exchange beyond the one slim repartition.
    x, y = und.alias("x"), und.hint("shuffle_hash").alias("y")
    pairs = x.join(
        y, (F.col("x.src") == F.col("y.src")) & (F.col("x.dst") < F.col("y.dst"))
    ).select(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
    # the explicit (a, b) repartition IS the aggregate's exchange (partial
    # and final collapse into the post-shuffle stage), carrying the wedge
    # stream once at n_part granularity — per-task hash-agg state is
    # bounded by the sizing row budget instead of wedges/shuffle.partitions
    cn = (
        pairs.repartition(n_part, "a", "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # cn already satisfies the anti-join's (a, b) clustering; only the
    # slim edge build side shuffles
    return cn.join(edges.hint("shuffle_hash"), ["a", "b"], "left_anti")


# An edge row costs 144 B on the driver while the CSR is built: the
# collected two-long Arrow row (16 B) plus the int64 endpoint, pair-key,
# sort and search workspaces over both orientations (128 B at the peak,
# tracemalloc at sf0.1). The CSR it leaves — and the broadcast ships — is
# 16 B per edge (int32 neighbour + int32 tail start, per orientation).
CN_EDGE_BYTES = 144
# wedges one kernel block gathers: its transient int64 arrays (~40 B per
# wedge, plus a dense count matrix of at most CN_DENSE × the wedges) stay
# near 10-20 MB per worker; smaller blocks measured no slower (sf0.1:
# 4.3 CPU-s at 250k, 4.8 at 1M)
CN_BLOCK_WEDGES = 250_000
CN_DENSE = 4
# a Python task costs ~0.3 CPU-s before it counts anything (measured on a
# warm worker, 4-vCPU VM); a task carries at least this many wedges
# (~0.2-0.4 CPU-s of kernel), so a small graph runs on fewer tasks
CN_TASK_WEDGES = 16_000_000


def _cn_csr(a: np.ndarray, b: np.ndarray, degree_cap: int | None, max_tasks: int):
    """Driver side of :func:`common_neighbor_topk`: the CSR over the
    sorted node keys of edge list ``(a, b)`` — both orientations, each
    row sorted, int32 node indices — plus, per entry a → c, where the
    tail of c's row past a starts (the b > a wedges a–c–b), the
    degree-cap centre mask (or None), and block bounds: contiguous
    source ranges cut by wedges, at most ``CN_BLOCK_WEDGES`` per block
    unless one source alone exceeds it, and at least one block per task.
    Returns the broadcast tuple ``(keys, indptr, indices, tail,
    center_ok, bounds)`` and the task count: ``max_tasks``, or fewer when
    the graph has under ``CN_TASK_WEDGES`` wedges per task."""
    ends = np.concatenate([a, b])
    keys = np.unique(ends)
    ends = np.searchsorted(keys, ends)
    n, m = len(keys), len(a)
    # both orientations as sorted pair keys src * n + dst: the CSR rows
    pair = np.sort(np.concatenate([ends[:m] * n + ends[m:], ends[m:] * n + ends[:m]]))
    src, dst = np.divmod(pair, n)
    deg = np.bincount(src, minlength=n)
    indptr = np.concatenate([[0], np.cumsum(deg)])
    # just past the last c -> a entry of each a -> c (a multi-edge repeats
    # a in c's row; every copy of b after it is a wedge). The reversed
    # keys sort to ``pair`` itself (the edge multiset is symmetric), so
    # one argsort places them and the search runs over sorted probes.
    tail = np.empty_like(pair)
    tail[np.argsort(dst * n + src, kind="stable")] = np.searchsorted(
        pair, pair, side="right"
    )
    center_ok = None if degree_cap is None else deg <= degree_cap
    wedges = indptr[dst + 1] - tail
    if center_ok is not None:
        wedges[~center_ok[dst]] = 0
    # cumulative wedges at each source boundary
    work = np.concatenate([[0], np.cumsum(wedges)])[indptr]
    total = int(work[-1])
    ntasks = min(max_tasks, max(1, -(-total // CN_TASK_WEDGES)))
    nblocks = max(ntasks, -(-total // CN_BLOCK_WEDGES))
    bounds = np.searchsorted(work, np.arange(nblocks + 1) * total // nblocks)
    bounds[-1] = n
    return (keys, indptr, dst.astype(np.int32), tail.astype(np.int32), center_ok, bounds), ntasks


def _cn_task(bc, k: int):
    """Executor side of :func:`common_neighbor_topk`: the ``mapInPandas``
    body over block ids. Each block gathers every wedge a–c–b with a in
    its source range and b > a (the tails of its centres' sorted rows),
    counts it under pair key ``a * n + b`` — one ``np.bincount`` over the
    block's dense (a, b) rows, or a sort when they are sparse — drops
    pairs that are already adjacent and keeps the counts that can still
    reach the task's top ``k``. The task yields its own top ``k`` of (a,
    b, common). Helpers are nested so the closure ships by value: workers
    need not import this package."""

    def topk(key, cnt):
        """The k best unique pair keys under (cnt desc, key asc)."""
        if len(cnt) <= k:
            return key, cnt
        v = np.partition(cnt, len(cnt) - k)[len(cnt) - k]  # k-th largest
        sel = cnt > v
        tie = np.flatnonzero(cnt == v)
        sel[tie[np.argsort(key[tie])[: k - int(sel.sum())]]] = True
        return key[sel], cnt[sel]

    def block(indptr, indices, tail, center_ok, lo, hi, floor):
        """(pair keys, counts) of block [lo, hi) with counts >= floor."""
        n = len(indptr) - 1
        p0, p1 = indptr[lo], indptr[hi]
        row = np.repeat(np.arange(hi - lo) * n, np.diff(indptr[lo:hi + 1]))
        nbr, first = indices[p0:p1], tail[p0:p1]
        adj = row + nbr  # pair keys relative to the block's first row
        if center_ok is not None:
            keep = center_ok[nbr]
            row, nbr, first = row[keep], nbr[keep], first[keep]
        # every centre's tail, laid end to end
        lens = indptr[nbr + 1] - first
        ends = np.cumsum(lens)
        pos = np.repeat(first - ends + lens, lens) + np.arange(ends[-1] if len(ends) else 0)
        key = np.repeat(row, lens) + indices[pos]
        span = (hi - lo) * n
        if span <= CN_DENSE * len(key):  # dense rows: one bincount
            c = np.bincount(key, minlength=span)
            c[adj] = 0
            key = np.flatnonzero(c >= floor)
            cnt = c[key]
        else:  # sparse rows: sort, so no O(rows × n) array
            key, cnt = np.unique(key, return_counts=True)
            keep = (cnt >= floor) & ~np.isin(key, adj)
            key, cnt = key[keep], cnt[keep]
        return topk(key + lo * n, cnt)

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys, indptr, indices, tail, center_ok, bounds = bc.value
        n = len(keys)
        best = np.empty(0, np.int64), np.empty(0, np.int64)
        for pdf in batches:
            for j in pdf["id"].to_numpy():
                # a pair below the current k-th count can no longer enter
                floor = best[1].min() if len(best[1]) == k else 1
                blk = block(indptr, indices, tail, center_ok, bounds[j], bounds[j + 1], floor)
                best = topk(*map(np.concatenate, zip(best, blk)))
        pair, common = best
        yield pd.DataFrame(
            {"a": keys[pair // n], "b": keys[pair % n], "common": common}
        )

    return count


def common_neighbor_topk(
    edges: DataFrame, k: int, degree_cap: int | None = None
) -> DataFrame:
    """The ``k`` best non-adjacent pairs ``(a, b, common)`` by common
    neighbour count, ordered (common desc, a, b) — exactly
    ``common_neighbor_counts(edges, degree_cap).orderBy(...).limit(k)``.

    Broadcast-CSR kernel under a byte gate. The edge list is collected
    once with ``limit(cap + 1)`` (one job, no separate count), where cap
    is the number of ``CN_EDGE_BYTES`` rows the broadcast budget
    (``sizing.BROADCAST_BYTES``) holds. If it fits,
    the driver builds a CSR over the sorted node keys (int32 indices,
    both orientations) and broadcasts it; ``spark.range(nblocks)
    .mapInPandas`` then runs the counting kernel (:func:`_cn_task`) over
    ``defaultParallelism`` tasks (fewer for a graph under
    ``CN_TASK_WEDGES`` wedges per task). Blocks are contiguous
    source-node ranges cut by the wedges they gather (the tail of each
    centre's row past the source), at most ``CN_BLOCK_WEDGES`` per block
    unless one source alone exceeds it, so no task straggles and each
    block's arrays stay small. Each task keeps its own top k;
    ``orderBy(...).limit(k)`` picks the global top k from those lists.

    Exactness: a pair (a, b) is counted entirely in the block that owns
    a, and node keys are sorted, so index order is key order and the
    per-task lists contain the global top k under the total order.
    ``degree_cap`` skips centres whose degree is over the cap — the same
    semantics as ``common_neighbor_counts`` — while adjacency is always
    the full edge list. Over the budget the call falls back to the
    shuffled wedge plan unchanged (the 100 TB path; the gate never
    truncates data). The fallback re-derives the edge list: the bounded
    collect is spent. Numpy only; the CSR keys fit int32 because the
    budget bounds the edge count.
    """
    spark = edges.sparkSession
    cap = broadcast_rows(CN_EDGE_BYTES)
    tbl = edges.select("a", "b").limit(cap + 1).toArrow()
    if not fits_broadcast(tbl.num_rows, CN_EDGE_BYTES):
        return (
            common_neighbor_counts(edges, degree_cap)
            .orderBy(F.desc("common"), "a", "b")
            .limit(k)
        )
    csr, ntasks = _cn_csr(
        tbl.column("a").to_numpy(),
        tbl.column("b").to_numpy(),
        degree_cap,
        spark.sparkContext.defaultParallelism,
    )
    nblocks = len(csr[-1]) - 1  # csr[-1]: block bounds
    bc = spark.sparkContext.broadcast(csr)
    types = {f.name: f.dataType.simpleString() for f in edges.schema.fields}
    return (
        spark.range(nblocks, numPartitions=ntasks)
        .mapInPandas(_cn_task(bc, k), f"a {types['a']}, b {types['b']}, common bigint")
        .orderBy(F.desc("common"), "a", "b")
        .limit(k)
    )


@query(
    "q242_common_neighbors",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    cn AS (
        SELECT x.dst AS a, y.dst AS b, COUNT(*) AS common
        FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
        GROUP BY x.dst, y.dst
    ),
    nonadj AS (
        SELECT cn.a, cn.b, cn.common
        FROM cn LEFT JOIN edges e ON cn.a = e.a AND cn.b = e.b
        WHERE e.a IS NULL
    )
    SELECT a, b, common FROM nonadj
    ORDER BY common DESC, a, b LIMIT 25
    """,
)
def q242(spark: SparkSession, sf: str) -> DataFrame:
    """Common-neighbors link prediction over the co-purchase graph
    (q200's edge list): for every NON-adjacent part pair, count shared
    neighbors; the top 25 pairs are the recommended 'bought together'
    candidates. Plan (:func:`common_neighbor_topk`): one bounded collect
    of the edge list; under the broadcast byte budget the driver builds a
    CSR, broadcasts it, and a work-balanced ``mapInPandas`` kernel counts
    each source node's neighbours-of-neighbours with ``np.bincount``,
    drops adjacent pairs and keeps a per-task top 25, from which a
    TakeOrdered picks the global 25 — no wedge shuffle, no checkpoint, no
    sizing job. On the sf0.01 benchmark pass (`perfbench`, seed 9) q242's
    shuffle write falls from 108 MB (the 13.8M-row wedge stream) to
    1.4 MB (the edge derivation and the bounded collect). Above the
    budget the shuffled wedge plan of ``common_neighbor_counts`` runs
    unchanged. Wedge fan-out is Σ deg(n)² — the hub-node guard is
    ``degree_cap`` (implemented on both paths + hub-graph-pytested; OFF
    here so the oracle contract stays exhaustive)."""
    return common_neighbor_topk(_edges(spark, sf), 25)


# -------------------------------------------------- vocabulary coverage ----
@query(
    "q244_vocab_coverage",
    oracle=f"""
    WITH w AS (
        SELECT unnest({_WORDS.format(c='text')}) AS word FROM documents
    ),
    v AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
    r AS (
        SELECT word, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS vocab_rank,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM v
    )
    SELECT word, cnt, vocab_rank,
           CAST(floor(cum / (SELECT total FROM t) * 1000000 + 0.5) AS BIGINT)
             AS coverage_q
    FROM r WHERE vocab_rank <= 200 ORDER BY vocab_rank
    """,
)
def q244(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve: corpus word frequencies ranked
    by count, with each rank's CUMULATIVE share of all token occurrences —
    the build-the-vocab step of tokenizer training ("the top-N types cover
    X% of the corpus"). The oracle's running total is a single global
    window; the Spark plan mints rank AND running sum distributedly in ONE
    range exchange via `functions/refops.py:distributed_cumsum` (the
    zipWithIndex shape generalized from ranks to prefix sums: partition-
    local running sums + broadcast per-partition offsets). Counts are
    integers, so cross-partition re-aggregation is exact; the only float
    op is the final share, an IEEE bigint/bigint division quantized at
    1e-6. Top-200 keeps the driver contract flat; the full curve is the
    same frame unfiltered."""
    from ..functions.refops import distributed_cumsum

    docs = load_table(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("neg", -F.col("cnt"))
    )
    curve = distributed_cumsum(
        vocab, ["neg", "word"], "cnt", name="cum", rank_name="vocab_rank"
    )
    total = curve.agg(F.sum("cnt").cast("long").alias("total"))
    return (
        curve.where(F.col("vocab_rank") <= 200)
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "cnt",
            "vocab_rank",
            F.floor(F.col("cum") / F.col("total") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("coverage_q"),
        )
        .orderBy("vocab_rank")
    )


# ----------------------------------------------- embedding quantization ----
@query(
    "q245_embedding_quantize",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        FROM e
    ),
    q AS (
        SELECT vec_id, scale,
               CASE WHEN scale > 0
                    THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes,
               CASE WHEN scale > 0
                    THEN list_max(list_transform(v,
                         x -> abs(x - floor(x / scale + 0.5) * scale)))
                    ELSE 0.0 END AS max_err
        FROM s
    )
    SELECT vec_id,
           CAST(floor(scale * 1000000000 + 0.5) AS BIGINT) AS scale_q,
           CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
           CAST(floor(max_err * 1000000000 + 0.5) AS BIGINT) AS max_err_q
    FROM q ORDER BY vec_id
    """,
)
def q245(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage/serving
    compression step for vector corpora (the scalar-quantization tier
    below q228's PQ): per-vector scale = max|x|/127, codes =
    round(x/scale) ∈ [-127,127], plus the reconstruction-error bound
    max|x - code·scale| the recall analysis needs. Entirely row-local
    higher-order functions — zero shuffles, codegen'd, scales with bytes
    scanned. Rounding is the explicit ``floor(x+0.5)`` in BOTH engines
    (native round() half-rule differs across engines); all arithmetic is
    IEEE mul/div/sub/abs on doubles, bit-identical cross-engine. The
    driver-flat output carries the code checksum; production writes the
    codes as array<tinyint> (4× smaller than float32, 8× than double)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scale = F.array_max(F.transform("v", lambda x: F.abs(x))) / 127
    s = emb.withColumn("scale", scale)
    code = lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long")  # noqa: E731
    codes = F.when(
        F.col("scale") > 0, F.transform("v", code)
    ).otherwise(F.transform("v", lambda x: F.lit(0).cast("long")))
    max_err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.transform(
                "v",
                lambda x: F.abs(x - F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale")),
            )
        ),
    ).otherwise(F.lit(0.0))
    q = s.select(
        "vec_id",
        F.col("scale"),
        codes.alias("codes"),
        max_err.alias("max_err"),
    )
    return q.select(
        "vec_id",
        F.floor(F.col("scale") * 1000000000 + F.lit(0.5)).cast("long").alias("scale_q"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("code_sum"),
        F.floor(F.col("max_err") * 1000000000 + F.lit(0.5)).cast("long").alias("max_err_q"),
    ).orderBy("vec_id")


# ----------------------------------------------------- column profiling ----
@query(
    "q246_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(floor(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR),
           CAST(CAST(floor(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    ORDER BY col_name
    """,
)
def q246(spark: SparkSession, sf: str) -> DataFrame:
    """Table profiling — the ANALYZE/describe-extended stats pass every
    catalog and data-quality tool needs: per column, null count, exact
    distinct count, and canonically-formatted min/max (ints as digits,
    money as cents, timestamps ISO — never engine-default float/date
    rendering, which differs across engines). The oracle scans the table
    once PER COLUMN (six scans); the Spark plan computes ALL columns'
    stats in ONE aggregate pass over one scan, then explodes the 1-row
    result into the per-column rows — the profiling shape that matters at
    100 TB, where each extra scan is the dominant cost. Exact distincts
    ride Spark's multi-distinct expand; the 100 TB default would swap
    them for approx_count_distinct (documented trade, q107's sketch)."""
    o = load_table(spark, sf, "orders")
    n = F.count(F.lit(1))
    aggs = []
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"):
        aggs += [
            (n - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    row = o.agg(*aggs)

    def fmt(c: str, mm: Column) -> Column:
        if c == "o_totalprice":
            return F.floor(mm * 100 + F.lit(0.5)).cast("long").cast("string")
        if c == "o_orderdate":
            return F.date_format(mm, "yyyy-MM-dd HH:mm:ss")
        return mm.cast("string")

    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
            F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
            fmt(c, F.col(f"{c}__min")).alias("min_v"),
            fmt(c, F.col(f"{c}__max")).alias("max_v"),
        )
        for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                  "o_orderdate", "o_orderpriority")
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


# ------------------------------------------------------- winsorization -----
# Exact discrete-percentile winsorization oracle — shared by q247 (exact
# distributed rank selection) and q255 (sketch path at exhaustive accuracy,
# where the GK sketch's rank error is < 1 and the cut points are exact).
_WINSORIZE_EXACT_ORACLE = """
    WITH c AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    nn AS (SELECT COUNT(*) AS n FROM c),
    r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rnk FROM c),
    cuts AS (
        SELECT MAX(CASE WHEN rnk = (1 * n + 99) // 100 THEN cents END) AS lo,
               MAX(CASE WHEN rnk = (99 * n + 99) // 100 THEN cents END) AS hi
        FROM r, nn
    )
    SELECT n,
           lo AS lo_cents, hi AS hi_cents,
           (SELECT COUNT(*) FROM c WHERE cents < lo) AS n_clip_lo,
           (SELECT COUNT(*) FROM c WHERE cents > hi) AS n_clip_hi,
           (SELECT CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS BIGINT) FROM c)
             AS wins_sum_cents
    FROM cuts, nn
"""


@query("q247_winsorize", oracle=_WINSORIZE_EXACT_ORACLE)
def q247(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorization — clip a money column at its exact P1/P99 before
    statistics, the standard outlier-robust preprocessing step. All
    arithmetic is INTEGER: prices quantize to cents, the cut points are
    the DISCRETE percentiles (value at rank ceil(p·n), integer ceil) —
    not the interpolated ones, whose (a+99b)/100 form lands exactly on a
    .5 rounding boundary for 1-in-100 cent pairs and would flip a cent
    across engine libms. Rank selection is the q218 machinery
    (`deterministic_id(fact_scale=True)`, no partitionless window);
    the two cut rows broadcast; the clip is row-local ``greatest∘least``.
    Scale: one range exchange + one broadcast + one agg — the 100 TB
    default swaps exact ranks for approx_percentile cut points
    (documented trade)."""
    from ..functions.refops import deterministic_id

    o = load_table(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = deterministic_id(o, ["cents", "o_orderkey"], name="rnk", fact_scale=True)
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    cuts = (
        ranked.crossJoin(F.broadcast(n_row))
        .agg(
            F.max(
                F.when(
                    F.col("rnk") == F.floor((1 * F.col("n") + 99) / 100), F.col("cents")
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rnk") == F.floor((99 * F.col("n") + 99) / 100), F.col("cents")
                )
            ).alias("hi"),
        )
    )
    return (
        o.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(n_row))
        .agg(
            F.first("n").alias("n"),
            F.first("lo").alias("lo_cents"),
            F.first("hi").alias("hi_cents"),
            F.sum((F.col("cents") < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((F.col("cents") > F.col("hi")).cast("long")).alias("n_clip_hi"),
            F.sum(F.greatest("lo", F.least("hi", F.col("cents"))))
            .cast("long")
            .alias("wins_sum_cents"),
        )
    )


# ------------------------------------------------------ BPE merge step -----
@query(
    "q248_bpe_merge_step",
    oracle=f"""
    WITH w AS (
        SELECT unnest({_WORDS.format(c='text')}) AS word FROM documents
    ),
    v AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    ch AS (SELECT cnt, regexp_extract_all(word, '.') AS cs FROM v),
    p AS (
        SELECT cnt,
               unnest(cs[1:len(cs) - 1]) AS a,
               unnest(cs[2:len(cs)]) AS b
        FROM ch WHERE len(cs) >= 2
    )
    SELECT a AS left_sym, b AS right_sym, CAST(SUM(cnt) AS BIGINT) AS total
    FROM p GROUP BY a, b
    ORDER BY total DESC, left_sym, right_sym LIMIT 20
    """,
)
def q248(spark: SparkSession, sf: str) -> DataFrame:
    """The BPE tokenizer-training kernel: word-frequency-weighted adjacent
    symbol-pair counts, ranked — the top pair IS the next BPE merge. The
    load-bearing scale property: pair counting runs over the VOCABULARY
    (word → corpus frequency, then chars within each distinct word,
    weighted by the frequency), not over the corpus — O(vocab · word_len)
    rows after one corpus-sized word-count shuffle, which is why
    industrial BPE trainers survive trillion-token corpora. Subsequent
    merge rounds re-segment the (bounded) vocabulary and repeat — a
    driver loop over vocab-sized jobs, the connected-components iteration
    pattern, not registered per-round here. Top-20 keeps the contract
    flat; ties rank deterministically by the pair itself."""
    docs = load_table(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cs = F.regexp_extract_all(F.col("word"), F.lit("."), 0)
    n = F.size(cs)
    pairs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(cs, i).alias("a"), F.element_at(cs, i + 1).alias("b")
        ),
    )
    ex = (
        vocab.where(n >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .select("cnt", F.col("p.a").alias("left_sym"), F.col("p.b").alias("right_sym"))
    )
    return (
        ex.groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").cast("long").alias("total"))
        .orderBy(F.desc("total"), "left_sym", "right_sym")
        .limit(20)
    )


# q247's declared 100 TB path, registered (the q218/q224 pattern: scale
# twins are code with pinned tests, not prose). approx_percentile is a
# mergeable GK/KLL sketch — one pass, partial aggregation, no range
# exchange, no rank selection — at the price of sketch-accuracy cut
# points. Rows-only: the cut points are approximate by design; the
# closeness contract vs q247 (same n, cuts within sketch tolerance, clip
# fractions within 2·tolerance) is pinned in tests/test_training_data.py.
@query("q249_winsorize_approx")
def q249(spark: SparkSession, sf: str) -> DataFrame:
    """q247's scale twin: winsorization with approx_percentile cut points
    (accuracy 10000 ⇒ rank error ≤ n/10000) instead of exact distributed
    rank selection. Same output schema; one aggregation pass for the cuts,
    one for the clipped stats."""
    o = load_table(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    cuts = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("cents", 0.01, 10000).alias("lo"),
        F.percentile_approx("cents", 0.99, 10000).alias("hi"),
    )
    return (
        o.crossJoin(F.broadcast(cuts))
        .agg(
            F.first("n").alias("n"),
            F.first("lo").alias("lo_cents"),
            F.first("hi").alias("hi_cents"),
            F.sum((F.col("cents") < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((F.col("cents") > F.col("hi")).cast("long")).alias("n_clip_hi"),
            F.sum(F.greatest("lo", F.least("hi", F.col("cents"))))
            .cast("long")
            .alias("wins_sum_cents"),
        )
    )


@query("q255_winsorize_sketch_exhaustive", oracle=_WINSORIZE_EXACT_ORACLE)
def q255(spark: SparkSession, sf: str) -> DataFrame:
    """q249's sketch path at exhaustive accuracy (1e7): the GK sketch's
    guaranteed rank error n/accuracy is < 1 for every registered SF, so
    ``percentile_approx`` returns the value at the exact discrete rank
    ceil(p·n) — verified to match q247's exact-rank oracle bit-for-bit.
    Certifies the single-pass sketch machinery (the declared 100 TB
    default for winsorization cut points) against the exact oracle the
    same way q253/q254 certify the ANN paths; q249 keeps the production
    accuracy=10000 configuration under its closeness contract."""
    o = load_table(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    cuts = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("cents", 0.01, 10_000_000).alias("lo"),
        F.percentile_approx("cents", 0.99, 10_000_000).alias("hi"),
    )
    return (
        o.crossJoin(F.broadcast(cuts))
        .agg(
            F.first("n").alias("n"),
            F.first("lo").alias("lo_cents"),
            F.first("hi").alias("hi_cents"),
            F.sum((F.col("cents") < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((F.col("cents") > F.col("hi")).cast("long")).alias("n_clip_hi"),
            F.sum(F.greatest("lo", F.least("hi", F.col("cents"))))
            .cast("long")
            .alias("wins_sum_cents"),
        )
    )


# --------------------------------------------------- k-means update step ---
_ASSIGN_SQL = """
    dist AS (
        SELECT e.vec_id, c.clabel,
               list_reduce(
                   list_transform(
                       list_zip(list_transform(e.embedding,
                                               x -> CAST(x AS DOUBLE)),
                                c.cvec),
                       t -> (t[1] - t[2]) * (t[1] - t[2])),
                   (a, b) -> a + b) AS d
        FROM embeddings e CROSS JOIN carr c),
    best AS (
        SELECT vec_id, clabel, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
        FROM dist)
"""


def _q250_oracle() -> str:
    from .extensions import _CENTROID_SQL

    return f"""
    WITH {_CENTROID_SQL},
    {_ASSIGN_SQL},
    asg AS (SELECT vec_id, clabel FROM best WHERE rn = 1),
    upd AS (
        SELECT a.clabel AS new_label, u.i - 1 AS pos,
               floor(SUM(CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * 1e9 + 0.5)
                              AS BIGINT))
                     / (1e9 * COUNT(*)) * 1e6 + 0.5) / 1e6 AS centroid
        FROM embeddings e JOIN asg a USING (vec_id),
             unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY new_label, pos)
    SELECT new_label, pos, centroid FROM upd ORDER BY new_label, pos
    """


@query("q250_kmeans_update_step", oracle=_q250_oracle())
def q250(spark: SparkSession, sf: str) -> DataFrame:
    """The k-means centroid UPDATE step — q167's missing half: after every
    embedding is assigned to its nearest centroid (same broadcast
    nested-loop assignment, same order-defined float fold and (d, label)
    tie-break), recompute each cluster's centroid as the per-dimension
    mean of its members. One full Lloyd iteration is assign∘update;
    distributed k-means training is this pair in a driver loop (IVF
    training, q106/q228, runs exactly this on a bounded sample instead).
    Scale shape: assignment is map-side against k broadcast centroids
    (zero shuffle), the update is ONE hash aggregate over the exploded
    (cluster, dim) components — k·dim output rows, never a per-row array
    reduce on the driver. Component sums quantize to 1e-9 bigints so the
    re-aggregation is exact in any partition order and the next
    iteration's input is bit-identical cross-engine."""
    from ._util import round_det

    emb = load_table(spark, sf, "embeddings")
    comps0 = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        "label", "pos",
        F.floor(F.col("x").cast("double") * 1e9 + 0.5).cast("long").alias("q"),
    )
    cent = comps0.groupBy("label", "pos").agg(
        round_det(F.sum("q") / (F.lit(1e9) * F.count(F.lit(1))), 6).alias("centroid")
    )
    carr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s.centroid,
        ).alias("cvec")
    )
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = F.aggregate(
        F.zip_with(ed, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, s: acc + s,
    )
    dist = emb.crossJoin(F.broadcast(carr)).select("vec_id", "clabel", d.alias("d"))
    w = W.partitionBy("vec_id").orderBy("d", "clabel")
    asg = (
        dist.select("vec_id", "clabel", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "clabel")
    )
    comps1 = (
        emb.join(asg, "vec_id")
        .select("clabel", F.posexplode(F.col("embedding")).alias("pos", "x"))
        .select(
            F.col("clabel").alias("new_label"), "pos",
            F.floor(F.col("x").cast("double") * 1e9 + 0.5).cast("long").alias("q"),
        )
    )
    return (
        comps1.groupBy("new_label", "pos")
        .agg(
            round_det(F.sum("q") / (F.lit(1e9) * F.count(F.lit(1))), 6).alias("centroid")
        )
        .orderBy("new_label", "pos")
    )


# ------------------------------------------------------------ exact AUC ----
@query(
    "q252_exact_auc",
    oracle="""
    WITH r AS (
        SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS s,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    g AS (SELECT s, COUNT(*) AS n_s, SUM(pos) AS p_s FROM r GROUP BY s),
    c AS (
        SELECT s, n_s, p_s,
               SUM(n_s) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_n
        FROM g
    ),
    agg AS (
        SELECT CAST(SUM(p_s * (2 * cum_n - n_s + 1)) AS BIGINT) AS r2,
               CAST(SUM(p_s) AS BIGINT) AS n_pos,
               CAST(SUM(n_s) AS BIGINT) AS n
        FROM c
    )
    SELECT n, n_pos, n - n_pos AS n_neg,
           CAST(floor((r2 - n_pos * (n_pos + 1))
                      / (2 * n_pos * (n - n_pos)) * 1000000 + 0.5) AS BIGINT)
             AS auc_q
    FROM agg
    """,
)
def q252(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ROC AUC, distributed — the model-evaluation statistic every
    training pipeline reports, computed as the Mann-Whitney rank sum with
    tie-AVERAGED ranks (the definition sklearn uses), never by
    materializing the O(n_pos·n_neg) pair space: group by (quantized)
    score, global running count over score groups via
    `refops.distributed_cumsum` (doubled average rank
    ``2·cum − n_s + 1`` stays integer through ties), one final aggregate.
    AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg), all integer until
    the single IEEE division, quantized 1e-6. Scale: one groupBy shuffle
    on score + one range exchange over DISTINCT scores (bounded by value
    cardinality, not rows) — the oracle's global window is the
    partitionless plan this replaces. Score = first embedding component,
    positives = label < 5 (synthetic eval: labels carry no real signal,
    the expected AUC ≈ 0.5 — the CONTRACT under test is the rank-sum
    machinery, which any (score, label) pair stream reuses)."""
    from ..functions.refops import distributed_cumsum

    emb = load_table(spark, sf, "embeddings")
    rows = emb.select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double") * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("s"),
        (F.col("label") < 5).cast("int").alias("pos"),
    )
    g = rows.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("pos").alias("p_s")
    )
    c = distributed_cumsum(g, ["s"], "n_s", name="cum_n")
    agg = c.agg(
        F.sum(F.col("p_s") * (2 * F.col("cum_n") - F.col("n_s") + 1)).alias("r2"),
        F.sum("p_s").alias("n_pos"),
        F.sum("n_s").alias("n"),
    )
    return agg.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.floor(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2 * F.col("n_pos") * (F.col("n") - F.col("n_pos")))
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("auc_q"),
    )


# ------------------------------------- prefix-filtered Jaccard scale twin --
@query("q243_jaccard_prefix_filter", oracle=JACCARD_PAIRS_ORACLE)
def q243(spark: SparkSession, sf: str) -> DataFrame:
    """q91's scale twin: EXACT 3-gram Jaccard pairs (t=0.8) via prefix
    filtering (SSJoin/PPJoin) instead of the full inverted index — only
    each doc's ``n - ceil(t·n) + 1`` globally-rarest shingles are indexed,
    and hot boilerplate shingles fall out of every prefix by construction
    (they order last). Pinned to the SAME brute-force oracle as q91: the
    pruning is provably lossless, and the hash match proves it on real
    data. See `operators.dedup.jaccard_prefix_filter_pairs` for the
    completeness argument and the integer ceil arithmetic."""
    docs = load_table(spark, sf, "documents")
    return jaccard_prefix_filter_pairs(docs, threshold=0.8).orderBy("doc_a", "doc_b")


# ------------------------------------------------ vocab application / OOV --
@query(
    "q257_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_WORDS.format(c='text')}) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, COUNT(*) AS c FROM tok GROUP BY word
            ORDER BY c DESC, word LIMIT 256
        )
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.word IS NULL) AS n_oov,
           CAST(floor(COUNT(*) FILTER (WHERE v.word IS NULL)
                      * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS oov_rate_q
    FROM tok t LEFT JOIN vocab v USING (word)
    GROUP BY t.doc_id ORDER BY doc_id
    """,
)
def q257(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary application: build the top-256 corpus
    vocabulary (count desc, word asc — fully deterministic tie-break) and
    score every document's out-of-vocabulary token rate — the coverage
    check run before committing to a tokenizer, and the per-doc OOV gate
    used to drop encoding-mangled documents.

    Scale shape: the vocabulary is a global top-k over the token counts
    (TakeOrdered — per-partition heaps, k rows to the driver) and is
    BOUNDED (256 rows), so the apply step is a broadcast hash join against
    the exploded token stream — no shuffle of the corpus beyond the one
    doc_id re-aggregation; at 100 TB the same plan ships the vocab to
    every executor once."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(words("text")).alias("word"))
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(256)
        .select("word")
    )
    per = (
        tok.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_in").isNull()).alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.floor(F.col("n_oov") * 1000000.0 / F.col("n_tokens") + F.lit(0.5))
        .cast("long")
        .alias("oov_rate_q"),
    ).orderBy("doc_id")


# --------------------------------------------------- PMI collocations ------
@query(
    "q258_pmi_collocations",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS.format(c='text')} AS ws FROM documents
    ),
    bg AS (
        SELECT unnest(ws[1:len(ws) - 1]) AS w1,
               unnest(ws[2:len(ws)]) AS w2
        FROM w WHERE len(ws) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    c2 AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
    nn AS (SELECT COUNT(*) AS n FROM bg)
    SELECT w1, w2, c12,
           CAST(floor(c12 * 1.0 * n / (c1 * c2) * 1000000 + 0.5) AS BIGINT)
               AS lift_q
    FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), nn
    WHERE c12 >= 5
    ORDER BY lift_q DESC, w1, w2 LIMIT 20
    """,
)
def q258(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation extraction by PMI lift: for every bigram seen ≥ 5
    times, lift = N·C(w1,w2) / (C(w1,·)·C(·,w2)) — the strength of the
    association between adjacent words; the top pairs are the corpus's
    multiword expressions (the phrase-mining step tokenizer and synthetic
    -data teams run). Exactness: the textbook PMI takes a log of this
    ratio, but log is monotone, so ranking by the RAW ratio (one IEEE
    division, quantized at 1e-6) gives the identical top-k without any
    libm in the cross-engine contract — the q241 argument.

    Scale shape: bigram explode (row-local) → three hash aggregates over
    the pair/margin keys → two keyed equi-joins back onto the PAIR COUNTS
    (vocab²-bounded, not corpus-bounded) + one 1-row scalar broadcast →
    TakeOrdered(20). Common-word skew on the margin joins is the AQE
    skew-join case."""
    docs = load_table(spark, sf, "documents")
    w = words("text")
    n = F.size(w)
    bg = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(w, i).alias("w1"), F.element_at(w, i + 1).alias("w2")
        ),
    )
    ex = (
        docs.where(n >= 2)
        .select(F.explode(bg).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = ex.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    nn = ex.agg(F.count(F.lit(1)).alias("n"))
    lift = (F.col("c12") * F.lit(1.0) * F.col("n")) / (F.col("c1") * F.col("c2"))
    return (
        c12.where(F.col("c12") >= 5)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1", "w2", "c12",
            F.floor(lift * 1000000 + F.lit(0.5)).cast("long").alias("lift_q"),
        )
        .orderBy(F.desc("lift_q"), "w1", "w2")
        .limit(20)
    )


# ----------------------------------------------------- shard manifest ------
@query(
    "q259_shard_manifest",
    oracle=f"""
    WITH t AS (
        SELECT CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 16 AS shard,
               doc_id,
               len({_WORDS.format(c='text')}) AS n_tokens
        FROM documents
    ),
    per AS (
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM t GROUP BY shard
    ),
    nn AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM t)
    SELECT shard, n_docs, total_tokens, min_doc, max_doc,
           CAST(floor(total_tokens * 1000000.0 / corpus_tokens + 0.5) AS BIGINT)
               AS token_share_q
    FROM per, nn ORDER BY shard
    """,
)
def q259(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard manifest: deterministic hash-assignment of documents
    to 16 shards (salted md5 — NOT round-robin or rand(): retried tasks
    and re-runs must agree on every doc's shard) with per-shard document
    and token totals plus each shard's share of the corpus — the manifest
    a dataloader consumes and the balance check run before a training job
    (a skewed shard straggles every epoch).

    Scale shape: the shard key is a row-local expression, so the manifest
    is ONE hash aggregate (16 groups — mergeable partials, O(1) shuffle)
    plus a 1-row corpus-total broadcast; the actual shard WRITE at 100 TB
    is `df.repartition(16, shard).write.partitionBy(shard)` riding the
    identical key (sources/sinks.py)."""
    from ..functions.text import h64 as _h64

    docs = load_table(spark, sf, "documents")
    t = docs.select(
        (_h64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))) % 16)
        .alias("shard"),
        "doc_id",
        word_count("text").alias("n_tokens"),
    )
    per = t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    nn = t.agg(F.sum("n_tokens").cast("long").alias("corpus_tokens"))
    return (
        per.crossJoin(F.broadcast(nn))
        .select(
            "shard", "n_docs", "total_tokens", "min_doc", "max_doc",
            F.floor(
                F.col("total_tokens") * 1000000.0 / F.col("corpus_tokens")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("token_share_q"),
        )
        .orderBy("shard")
    )


# ------------------------------------------------------ weighted median ----
@query(
    "q271_weighted_median",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (SELECT cents, CAST(SUM(w) AS BIGINT) AS w FROM v GROUP BY cents),
    c AS (
        SELECT cents, w,
               CAST(SUM(w) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM g
    ),
    nn AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM v)
    SELECT total_w, MIN(cents) AS median_cents
    FROM c, nn WHERE cum >= (total_w + 1) // 2
    GROUP BY total_w
    """,
)
def q271(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED median (lower): the smallest price whose cumulative
    quantity-weight reaches half the total — the robust 'typical unit
    price' a plain median of line items gets wrong whenever quantities
    vary (each cent value counts once per UNIT shipped, not once per
    line). No SQL aggregate computes this; the distributed form is the
    q247/q252 rank machinery applied to WEIGHTS: pre-aggregate weight per
    DISTINCT value (the shuffle is O(distinct values), not O(rows)), one
    range exchange for the weighted prefix sum via `distributed_cumsum`,
    then the first value crossing ceil(W/2). All-integer arithmetic."""
    from ..functions.refops import distributed_cumsum

    li = load_table(spark, sf, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("w"),
    )
    g = li.groupBy("cents").agg(F.sum("w").cast("long").alias("w"))
    c = distributed_cumsum(g, ["cents"], "w", name="cum")
    nn = li.agg(F.sum("w").cast("long").alias("total_w"))
    return (
        c.crossJoin(F.broadcast(nn))
        .where(F.col("cum") >= F.floor((F.col("total_w") + 1) / 2))
        .groupBy("total_w")
        .agg(F.min("cents").alias("median_cents"))
        .select("total_w", "median_cents")
    )


# --------------------------------------------- percentile normalization ----
@query(
    "q274_percentile_normalize",
    oracle="""
    WITH r AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (ORDER BY CAST(floor(o_totalprice * 100 + 0.5)
                                                AS BIGINT), o_orderkey) AS rnk,
               COUNT(*) OVER () AS n
        FROM orders
    )
    SELECT o_orderkey,
           CAST(floor(rnk * 1000000.0 / (n + 1) + 0.5) AS BIGINT) AS pctile_q
    FROM r ORDER BY o_orderkey
    """,
)
def q274(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile (rank) normalization: map a skewed money column to its
    uniform rank score rank/(n+1) — the outlier-immune feature scaling
    (quantile transform) preprocessing pipelines apply before training.
    The rank is minted by the q247 machinery (`deterministic_id` with
    fact_scale=True: range exchange + partition windows + offset map —
    no partitionless window over the fact table; the oracle's global
    ROW_NUMBER is the single-node equivalent). Ties break by key, so the
    transform is deterministic; output quantizes at 1e-6."""
    from ..functions.refops import deterministic_id

    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    ranked = deterministic_id(
        o, ["cents", "o_orderkey"], name="rnk", fact_scale=True
    )
    nn = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(nn))
        .select(
            "o_orderkey",
            F.floor(F.col("rnk") * 1000000.0 / (F.col("n") + 1) + F.lit(0.5))
            .cast("long")
            .alias("pctile_q"),
        )
        .orderBy("o_orderkey")
    )


# ------------------------------------------------ domain overlap matrix ----
@query(
    "q278_domain_token_overlap",
    oracle=f"""
    WITH g AS (
        SELECT source, unnest({_WORDS.format(c='text')}) AS tok FROM documents
    ),
    t AS (SELECT DISTINCT source, tok FROM g),
    n AS (SELECT source, COUNT(*) AS n_tok FROM t GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
        FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_inter,
           na.n_tok + nb.n_tok - n_inter AS n_union,
           CAST(n_inter AS DOUBLE) / (na.n_tok + nb.n_tok - n_inter) AS jaccard
    FROM inter
    JOIN n na ON na.source = source_a
    JOIN n nb ON nb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def q278(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-overlap matrix: exact vocabulary Jaccard between every pair
    of sources — the corpus-mixing diagnostic that decides whether two
    crawl domains are near-duplicates of each other (merge them) or
    complementary (keep both in the mixture). Candidate pairs come from a
    token-keyed equi-join over the DISTINCT (source, token) relation, so
    cost is Σ_tok df(tok)² with df bounded by the domain count — domains
    are O(10²..10⁴), so the pair space is bounded by design, never
    O(corpus²). Intersection counts and set sizes are exact integers;
    the Jaccard is one IEEE division of those integers (bit-identical
    cross-engine). At web scale (millions of sources) the same matrix
    drops in per-domain MinHash signatures for the t-relation — q92's
    machinery at domain grain."""
    docs = load_table(spark, sf, "documents")
    # the (source, token) set feeds three consumers (sizes + both join
    # sides) — materialize once (the repo's one-pass rule; eager so the
    # ContextCleaner can release the blocks when the query ends)
    t = (
        docs.select("source", F.explode(words("text")).alias("tok"))
        .distinct()
        .transform(materialize)
    )
    n = t.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n_tok").alias("na"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_tok").alias("nb"))
    u = F.col("na") + F.col("nb") - F.col("n_inter")
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            u.alias("n_union"),
            (F.col("n_inter") / u).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------- embedding gram matrix ----
GRAM_Q = 10_000

# the gram-matrix CTE chain, shared by q279 (the matrix itself) and q282
# (power iteration on top of it)
_GRAM_CTES = f"""
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * {GRAM_Q} + 0.5) AS BIGINT)) AS qv
        FROM e
    ),
    s AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
    p AS (SELECT vec_id, qv, i, qv[i] AS qi FROM s),
    pj AS (SELECT vec_id, qv, i, qi, unnest(range(i, len(qv) + 1)) AS j FROM p),
    gram AS (
        SELECT i, j, COUNT(*) AS n,
               CAST(SUM(qi * qv[j]) AS BIGINT) AS gram
        FROM pj GROUP BY i, j
    )
"""


def _gram_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Upper-triangular (i, j, n, gram) aggregate — see q279 docstring."""
    emb = load_table(spark, sf, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    qv = F.transform(
        "v", lambda x: F.floor(x * GRAM_Q + F.lit(0.5)).cast("long")
    )
    q = emb.select(qv.alias("qv"))
    pairs = F.flatten(
        F.transform(
            "qv",
            lambda xi, i0: F.transform(
                F.slice("qv", i0 + 1, F.size("qv") - i0),
                lambda xj, k0: F.struct(
                    (i0 + 1).alias("i"),
                    (i0 + 1 + k0).alias("j"),
                    (xi * xj).alias("p"),
                ),
            ),
        )
    )
    cells = q.select(F.explode(pairs).alias("c")).select("c.i", "c.j", "c.p")
    return cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("gram")
    )


def _gram_cells_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """The same exact integers as ``_gram_cells``, computed as per-batch
    numpy int64 matmuls (Qᵀ·Q partials over Arrow batches) merged by one
    hash aggregate. Dense linear algebra is the case where the HOF
    explode pays d²/2 struct rows per vector while a vectorized partial
    pays none — measured ~2× the whole-query speed at sf0.1 (q282).
    Identical results because quantized int64 products/sums are exact in
    BOTH formulations (no float accumulation anywhere); certified by
    q282's unchanged oracle."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty partition/batch — nothing to add
                continue
            m = np.stack(pdf["v"].to_numpy())  # rows × d, float64
            q = np.floor(m * GRAM_Q + 0.5).astype(np.int64)
            g = q.T @ q  # exact int64
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu + 1,
                    "j": ju + 1,
                    "n": np.full(iu.size, len(pdf), dtype=np.int64),
                    "gram": g[iu, ju],
                }
            )

    emb = load_table(spark, sf, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    part = emb.mapInPandas(partials, "i long, j long, n long, gram long")
    return part.groupBy("i", "j").agg(
        F.sum("n").alias("n"), F.sum("gram").alias("gram")
    )


@query(
    "q279_embedding_gram_matrix",
    oracle=f"""
    WITH {_GRAM_CTES}
    SELECT i, j, n, gram FROM gram ORDER BY i, j
    """,
)
def q279(spark: SparkSession, sf: str) -> DataFrame:
    """Upper-triangular gram matrix X'X over the embedding corpus — the
    accumulation step behind distributed PCA / whitening / least squares
    (d×d covariance comes from gram + column sums in one more line).
    Components are quantized to integers (floor(x·1e4+0.5), the repo's
    cross-engine float boundary rule) so the Σ xᵢxⱼ partial sums are EXACT
    and partition order cannot move the hash. The d(d+1)/2 products per
    row are generated ROW-LOCALLY with nested index-lambdas (slice from i
    keeps j ≥ i) and fold into a single hash aggregate keyed on (i, j) —
    no self-join, no shuffle besides the d²-sized agg, which is the
    textbook 100 TB shape: map-side outer products, reduce by cell.
    BIGINT headroom: |q| ≤ ~10·Q, so n·(10Q)² overflows past ~9e5 rows —
    production promotes the sum to DECIMAL(38,0); documented, not hit at
    test SFs."""
    return _gram_cells(spark, sf).orderBy("i", "j")


# -------------------------------------------- power iteration (top PC) ----
EIG_VQ = 1000  # iterate quantization: components land in [-VQ, VQ]


@query(
    "q282_power_iteration",
    oracle=f"""
    WITH {_GRAM_CTES},
    gsym AS (
        SELECT i, j, gram AS g FROM gram
        UNION ALL
        SELECT j, i, gram AS g FROM gram WHERE i <> j
    ),
    w1 AS (SELECT i, CAST(SUM(g) AS BIGINT) AS w FROM gsym GROUP BY i),
    m1 AS (SELECT MAX(ABS(w)) AS m FROM w1),
    v1 AS (
        SELECT i, CAST(floor(CAST(w AS DOUBLE) / m * {EIG_VQ} + 0.5) AS BIGINT) AS v
        FROM w1, m1
    ),
    w2 AS (
        SELECT gsym.i AS i, CAST(SUM(g * v1.v) AS BIGINT) AS w
        FROM gsym JOIN v1 ON gsym.j = v1.i GROUP BY gsym.i
    ),
    m2 AS (SELECT MAX(ABS(w)) AS m FROM w2)
    SELECT i, w AS w2,
           CAST(floor(CAST(w AS DOUBLE) / m * {EIG_VQ} + 0.5) AS BIGINT) AS eig_q
    FROM w2, m2 ORDER BY i
    """,
)
def q282(spark: SparkSession, sf: str) -> DataFrame:
    """Top principal direction of the embedding gram matrix by TWO
    unrolled power-iteration steps — the iterative-algorithm pattern
    (PageRank's cousin for dense linear algebra) expressed as a static
    DAG so the oracle can mirror it CTE-for-CTE. Determinism: the matrix
    entries are q279's EXACT integers; each matvec Σⱼ G_ij·v_j is exact
    BIGINT arithmetic; the only floats are the two renormalizations
    (w/max|w|, one correctly-rounded IEEE division of exact ints, then
    floor-quantized back to integers in [-{vq}, {vq}]), so every engine
    computes bit-identical iterates. Plan shape: the d²-row symmetrized
    matrix joins the d-row iterate on j (broadcast — the iterate is
    always tiny), one hash agg per step, 1-row max broadcasts between
    steps; d steps of this is distributed power iteration at any corpus
    scale since nothing ever materializes beyond O(d²). The start vector
    is all-ones (w1 = row sums); convergence to the true eigvec needs
    more rounds — production loops the SAME step with checkpointing
    (q108's pattern); two rounds keep the oracle finite."""
    gram = _gram_cells_arrow(spark, sf).transform(materialize)
    gsym = gram.select("i", "j", F.col("gram").alias("g")).unionAll(
        gram.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("gram").alias("g")
        )
    )
    w1 = gsym.groupBy("i").agg(F.sum("g").alias("w"))
    m1 = w1.agg(F.max(F.abs(F.col("w"))).alias("m"))
    quant = F.floor(F.col("w") / F.col("m") * EIG_VQ + F.lit(0.5)).cast("long")
    v1 = w1.crossJoin(F.broadcast(m1)).select("i", quant.alias("v"))
    w2 = (
        gsym.join(F.broadcast(v1.withColumnRenamed("i", "j")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
    )
    m2 = w2.agg(F.max(F.abs(F.col("w"))).alias("m"))
    return (
        w2.crossJoin(F.broadcast(m2))
        .select("i", F.col("w").alias("w2"), quant.alias("eig_q"))
        .orderBy("i")
    )


q282.__doc__ = q282.__doc__.format(vq=EIG_VQ)


# ---------------------------------------------- contrastive negatives ----
NEG_BUCKETS = 4
NEG_K = 3


@query(
    "q281_negative_sampling",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               {_H64.format(x="CAST(doc_id AS VARCHAR)")} % {NEG_BUCKETS} AS b
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
               {_H64.format(x="CAST(a.doc_id AS VARCHAR) || ':' || CAST(c.doc_id AS VARCHAR)")} AS pr
        FROM d a JOIN d c
          ON a.source = c.source AND a.b = c.b AND a.doc_id <> c.doc_id
    ),
    rk AS (
        SELECT anchor_id, neg_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY pr, neg_id) AS rk
        FROM pairs
    )
    SELECT anchor_id, neg_id, rk FROM rk WHERE rk <= {NEG_K}
    ORDER BY anchor_id, rk
    """,
)
def q281(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive training:
    each anchor document draws {k} pseudo-random same-source negatives.
    Candidates come from a (source, hash-bucket) equi-join — every doc
    lands in one of {b} buckets by content-free id hash, and anchors only
    see candidates in their own bucket, so the pair space is corpus²/{b}
    per source shard rather than corpus² (at 100 TB, raise {b} to hold
    the per-bucket candidate count constant; the join stays keyed). The
    pick is the {k} smallest pair-hashes under an anchor-partitioned
    window — fully deterministic (no rand()), reproducible across runs
    and engines, and uniform-ish because md5 is. Anchors whose bucket
    holds fewer than {k} peers emit fewer rows (honest undersupply, no
    replacement draws)."""
    docs = load_table(spark, sf, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.pmod(h64(F.col("doc_id").cast("string")), F.lit(NEG_BUCKETS)).alias("b"),
    )
    a = d.select(
        F.col("doc_id").alias("anchor_id"), "source", F.col("b").alias("ab")
    )
    c = d.select(
        F.col("doc_id").alias("neg_id"), "source", F.col("b").alias("cb")
    )
    pr = h64(
        F.concat_ws(
            ":", F.col("anchor_id").cast("string"), F.col("neg_id").cast("string")
        )
    )
    pairs = (
        a.join(c, ["source"])
        .where((F.col("ab") == F.col("cb")) & (F.col("anchor_id") != F.col("neg_id")))
        .select("anchor_id", "neg_id", pr.alias("pr"))
    )
    rk = F.row_number().over(
        W.partitionBy("anchor_id").orderBy("pr", "neg_id")
    )
    return (
        pairs.select("anchor_id", "neg_id", rk.alias("rk"))
        .where(F.col("rk") <= NEG_K)
        .orderBy("anchor_id", "rk")
    )


q281.__doc__ = q281.__doc__.format(k=NEG_K, b=NEG_BUCKETS)


# --------------------------------------------------- tf-idf top terms ----
TFIDF_K = 5
TFIDF_SCALE = 1_000_000


@query(
    "q283_tfidf_topk",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest({_WORDS.format(c='text')}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nn AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tf.term AS term, tf.tf AS tf, df.df AS df,
               (tf.tf * (n_docs + 1) * {TFIDF_SCALE}) // (df.df + 1) AS score_q
        FROM tf JOIN df ON tf.term = df.term, nn
    ),
    rk AS (
        SELECT doc_id, term, tf, df, score_q,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_q DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score_q, rk FROM rk WHERE rk <= {TFIDF_K}
    ORDER BY doc_id, rk
    """,
)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{k} distinctive terms per document by tf·idf — the classic
    keyword/feature extraction pass (the per-document complement of
    q168's query-side BM25). The idf here is the LINEAR inverse
    document-frequency (N+1)/(df+1), not log — deliberately: it keeps the
    whole score in exact BIGINT arithmetic (tf·(N+1)·1e6 floor-divided by
    df+1), so the rank-{k} boundary cannot flip on a cross-engine libm
    ulp (the repo-wide no-libm-in-ORDER-BY rule; swap in log-idf when a
    single engine owns both sides). Shape: one (doc, term) hash agg, a
    term-keyed equi-join against the O(vocab) df table (broadcast while
    it fits, keyed SMJ beyond), a 1-row N broadcast, and a top-{k}
    window partitioned by doc — every stage keyed, no global sort."""
    docs = load_table(spark, sf, "documents")
    g = docs.select("doc_id", F.explode(words("text")).alias("term"))
    tf = g.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nn = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    num = F.col("tf") * (F.col("n_docs") + 1) * TFIDF_SCALE
    den = F.col("df") + 1
    score = ((num - num % den) / den).cast("long")  # exact floor division
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nn))
        .select("doc_id", "term", "tf", "df", score.alias("score_q"))
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("score_q").desc(), "term")
    )
    return (
        scored.select("doc_id", "term", "tf", "df", "score_q", rk.alias("rk"))
        .where(F.col("rk") <= TFIDF_K)
        .orderBy("doc_id", "rk")
    )


q283.__doc__ = q283.__doc__.format(k=TFIDF_K)


# ------------------------------------------- domain MinHash signatures ----
DOM_PERMS = 32
DOM_EST_SCALE = 1_000_000 // DOM_PERMS  # exact: 31250 per agreeing perm


def _dom_minhash_sql() -> str:
    from ..functions.text import MINHASH_P, minhash_consts
    from .extensions import _H32

    base = f"({_H32.format(x='tok')} % {MINHASH_P})"
    mins = ",\n               ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in (
            (i, minhash_consts(i)) for i in range(DOM_PERMS)
        )
    )
    sig_list = ", ".join(f"m{i}" for i in range(DOM_PERMS))
    return f"""
    WITH g AS (
        SELECT source, unnest({_WORDS.format(c='text')}) AS tok FROM documents
    ),
    t AS (SELECT DISTINCT source, tok FROM g),
    m AS (
        SELECT source,
               {mins}
        FROM t GROUP BY source
    ),
    s AS (SELECT source, [{sig_list}] AS sig FROM m)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(len(list_filter(range(1, {DOM_PERMS + 1}),
                i -> a.sig[i] = b.sig[i])) AS BIGINT) AS n_agree,
           CAST(len(list_filter(range(1, {DOM_PERMS + 1}),
                i -> a.sig[i] = b.sig[i])) * {DOM_EST_SCALE} AS BIGINT)
             AS est_jaccard_q
    FROM s a JOIN s b ON a.source < b.source
    ORDER BY source_a, source_b
    """


@query("q290_domain_minhash_overlap", oracle=_dom_minhash_sql())
def q290(spark: SparkSession, sf: str) -> DataFrame:
    """q278's web-scale twin, exactly as its docstring promises: the
    domain-overlap matrix from per-domain MINHASH SIGNATURES instead of
    exact token sets. Each domain folds its distinct-token hashes into a
    {p}-permutation signature (one md5 per token feeds every permutation
    through the affine family — the q92 construction at domain grain);
    estimated Jaccard is the agreeing-component fraction. The signature
    build is one hash aggregate over (domain, token) — O(corpus) however
    many domains exist — and the pair stage compares {p}-int vectors, so
    it scales as domains², independent of corpus bytes (the exact q278
    join scales with vocabulary overlap). Everything is deterministic
    integer arithmetic — the md5 family is shared by both engines — so
    unlike most sketches this APPROXIMATE operator still has an exact
    oracle: the estimate itself is replayed, bit-for-bit, in SQL.
    Estimator error vs q278's exact Jaccard is pinned separately in
    pytest (1/sqrt({p}) ≈ 18-point standard error)."""
    from ..functions.text import MINHASH_P, h32, minhash_consts

    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "source", F.explode(words("text")).alias("tok")
    ).distinct()
    b = t.select("source", (h32(F.col("tok")) % MINHASH_P).alias("base"))
    aggs = []
    for i in range(DOM_PERMS):
        a_c, b_c = minhash_consts(i)
        aggs.append(
            F.min((F.col("base") * a_c + b_c) % MINHASH_P).alias(f"m{i}")
        )
    sig = (
        b.groupBy("source")
        .agg(*aggs)
        .select(
            "source", F.array(*[f"m{i}" for i in range(DOM_PERMS)]).alias("sig")
        )
    )
    s1 = sig.select(F.col("source").alias("source_a"), F.col("sig").alias("sig_a"))
    s2 = sig.select(F.col("source").alias("source_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z
        )
    ).cast("long")
    return (
        s1.join(F.broadcast(s2), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            agree.alias("n_agree"),
            (agree * DOM_EST_SCALE).alias("est_jaccard_q"),
        )
        .orderBy("source_a", "source_b")
    )


q290.__doc__ = q290.__doc__.format(p=DOM_PERMS)


# ---------------------------------------------------- per-segment AUC ----
@query(
    "q292_grouped_auc",
    oracle="""
    WITH r AS (
        SELECT vec_id % 3 AS seg,
               CAST(floor(CAST(embedding[3] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS s,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    g AS (SELECT seg, s, COUNT(*) AS n_s, SUM(pos) AS p_s FROM r GROUP BY seg, s),
    c AS (
        SELECT seg, s, n_s, p_s,
               SUM(n_s) OVER (PARTITION BY seg ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS cum_n
        FROM g
    ),
    agg AS (
        SELECT seg,
               CAST(SUM(p_s * (2 * cum_n - n_s + 1)) AS BIGINT) AS r2,
               CAST(SUM(p_s) AS BIGINT) AS n_pos,
               CAST(SUM(n_s) AS BIGINT) AS n
        FROM c GROUP BY seg
    )
    SELECT seg, n, n_pos, n - n_pos AS n_neg,
           CAST(floor((r2 - n_pos * (n_pos + 1))
                      / (2 * n_pos * (n - n_pos)) * 1000000 + 0.5) AS BIGINT)
             AS auc_q
    FROM agg ORDER BY seg
    """,
)
def q292(spark: SparkSession, sf: str) -> DataFrame:
    """Per-segment exact ROC AUC — q252's Mann-Whitney tie-averaged rank
    sum with a PARTITION BY segment at every stage, the 'report AUC per
    language / per domain / per slice' evaluation every gate ships with.
    The cumulative count now rides an ordinary segment-partitioned window
    over the (segment, score)-aggregated rows, so state per window
    partition is O(distinct scores in that segment) — fine whenever
    segments partition the corpus (the use case); one pathological
    giant segment falls back to q252's range-exchange machinery per
    segment (documented, not needed here). All-integer until the single
    quantized IEEE division per segment."""
    emb = load_table(spark, sf, "embeddings")
    r = emb.select(
        (F.col("vec_id") % 3).alias("seg"),
        F.floor(F.element_at("embedding", 3).cast("double") * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("s"),
        (F.col("label") < 5).cast("long").alias("pos"),
    )
    g = r.groupBy("seg", "s").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("pos").alias("p_s")
    )
    cum = F.sum("n_s").over(
        W.partitionBy("seg").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    c = g.select("seg", "n_s", "p_s", cum.alias("cum_n"))
    agg = c.groupBy("seg").agg(
        F.sum(F.col("p_s") * (2 * F.col("cum_n") - F.col("n_s") + 1)).alias("r2"),
        F.sum("p_s").alias("n_pos"),
        F.sum("n_s").alias("n"),
    )
    n_pos, n = F.col("n_pos"), F.col("n")
    auc = (F.col("r2") - n_pos * (n_pos + 1)) / (2 * n_pos * (n - n_pos))
    return agg.select(
        "seg",
        "n",
        "n_pos",
        (n - n_pos).alias("n_neg"),
        F.floor(auc * 1_000_000 + F.lit(0.5)).cast("long").alias("auc_q"),
    ).orderBy("seg")


# ------------------------------------- minhash merge = recompute proof ----
def _dom_sig_exploded_sql() -> str:
    """Full-corpus per-domain signature, exploded to (source, perm, m) —
    the recompute-from-scratch oracle for the merge path."""
    from ..functions.text import MINHASH_P, minhash_consts
    from .extensions import _H32

    base = f"({_H32.format(x='tok')} % {MINHASH_P})"
    mins = ",\n               ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in ((i, minhash_consts(i)) for i in range(DOM_PERMS))
    )
    sig_list = ", ".join(f"m{i}" for i in range(DOM_PERMS))
    return f"""
    WITH g AS (
        SELECT source, unnest({_WORDS.format(c='text')}) AS tok FROM documents
    ),
    t AS (SELECT DISTINCT source, tok FROM g),
    m AS (
        SELECT source,
               {mins}
        FROM t GROUP BY source
    ),
    s AS (SELECT source, [{sig_list}] AS sig FROM m)
    SELECT source, unnest(range(1, {DOM_PERMS + 1})) AS perm,
           sig[unnest(range(1, {DOM_PERMS + 1}))] AS m
    FROM s ORDER BY source, perm
    """


@query("q293_minhash_merge_invariance", oracle=_dom_sig_exploded_sql())
def q293(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch MERGEABILITY certified: the corpus splits into a standing
    half (even doc_id) and an arriving batch (odd doc_id), each half
    builds its own per-domain MinHash signature, and the halves merge by
    ELEMENT-WISE MIN — the oracle recomputes the signature over the full
    corpus from scratch, and the hash match proves merge == recompute.
    This is the property that makes sketch-based dedup/overlap
    incremental at 100 TB: a new shard's signatures fold into the
    standing index in O(domains · perms) without touching historical
    bytes (the q235 IVM argument applied to sketches; HLL merges the
    same way in q208, but THIS merge is exact-deterministic, so it gets
    a value-hash oracle rather than an error bound). Both halves share
    one signature-build shape (hash agg over (domain, token)); the merge
    is a domain-keyed zip_with(least)."""
    from ..functions.text import MINHASH_P, h32, minhash_consts

    docs = load_table(spark, sf, "documents")

    def half_sig(pred) -> DataFrame:
        t = (
            docs.where(pred)
            .select("source", F.explode(words("text")).alias("tok"))
            .distinct()
        )
        b = t.select("source", (h32(F.col("tok")) % MINHASH_P).alias("base"))
        aggs = []
        for i in range(DOM_PERMS):
            a_c, b_c = minhash_consts(i)
            aggs.append(
                F.min((F.col("base") * a_c + b_c) % MINHASH_P).alias(f"m{i}")
            )
        return (
            b.groupBy("source")
            .agg(*aggs)
            .select(
                "source",
                F.array(*[f"m{i}" for i in range(DOM_PERMS)]).alias("sig"),
            )
        )

    even = half_sig(F.col("doc_id") % 2 == 0)
    odd = half_sig(F.col("doc_id") % 2 == 1).withColumnRenamed("sig", "sig_b")
    # full outer: a domain may exist in only one half; coalesce the miss
    merged = (
        even.join(odd, "source", "full_outer")
        .select(
            "source",
            F.when(F.col("sig").isNull(), F.col("sig_b"))
            .when(F.col("sig_b").isNull(), F.col("sig"))
            .otherwise(F.zip_with("sig", "sig_b", lambda a, b: F.least(a, b)))
            .alias("sig"),
        )
    )
    return (
        merged.select(
            "source", F.posexplode("sig").alias("p0", "m")
        )
        .select("source", (F.col("p0") + 1).alias("perm"), "m")
        .orderBy("source", "perm")
    )


# ------------------------------------------ leave-one-out target encoding --
@query(
    "q303_target_encoding_loo",
    oracle="""
    WITH r AS (
        SELECT c_custkey, c_mktsegment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer
    ),
    g AS (
        SELECT c_mktsegment,
               CAST(SUM(cents) AS BIGINT) AS seg_sum,
               CAST(COUNT(*) AS BIGINT) AS seg_n
        FROM r GROUP BY c_mktsegment
    )
    SELECT c_custkey, r.c_mktsegment AS segment,
           CASE WHEN seg_n > 1
                THEN ((seg_sum - cents) * 1000000) // (seg_n - 1)
           END AS loo_enc_q
    FROM r JOIN g ON g.c_mktsegment = r.c_mktsegment
    ORDER BY c_custkey
    """,
)
def q303(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    encoder: each row's category is replaced by the target mean of the
    OTHER rows in that category, ``(Σ_cat − y_i)/(n_cat − 1)``, so a
    row never sees its own label (plain target encoding leaks the label
    straight into the feature and inflates validation scores). Exact
    arithmetic end-to-end: integer-cents target, per-category sums from
    one tiny hash aggregate, the subtraction row-local, the mean a
    scaled integer floor-division — engine-stable with no float
    accumulation. Plan: one O(categories) aggregate broadcast back onto
    the rows — a 100 TB encode is one scan + one map-side join.
    Singleton categories yield NULL (no honest LOO value exists);
    production smooths toward the global mean, same plan + one more
    broadcast scalar."""
    cust = load_table(spark, sf, "customer")
    r = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = r.groupBy("c_mktsegment").agg(
        F.sum("cents").alias("seg_sum"), F.count(F.lit(1)).alias("seg_n")
    )
    num = (F.col("seg_sum") - F.col("cents")) * 1_000_000
    den = F.col("seg_n") - 1
    loo = F.when(
        F.col("seg_n") > 1, ((num - num % den) / den).cast("long")
    )
    return (
        r.join(F.broadcast(g), "c_mktsegment")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            loo.alias("loo_enc_q"),
        )
        .orderBy("c_custkey")
    )


# ----------------------------------------------- ABC / Pareto classes ----
@query(
    "q307_abc_classification",
    oracle="""
    WITH pr AS (
        SELECT l_partkey,
               CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    c AS (
        SELECT l_partkey, rev,
               CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(rev) OVER () AS BIGINT) AS total
        FROM pr
    )
    SELECT l_partkey, rev, cum,
           CASE WHEN (cum - rev) * 100 < 80 * total THEN 'A'
                WHEN (cum - rev) * 100 < 95 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c ORDER BY l_partkey
    """,
)
def q307(spark: SparkSession, sf: str) -> DataFrame:
    """ABC (Pareto 80/15/5) classification of parts by revenue — the
    inventory-management classic: class A = parts whose cumulative
    revenue share STARTS below 80%% of the total (exact integer
    comparison ``(cum − rev)·100 < 80·total`` — no percentage float
    ever materializes), B below 95%%, C the tail. The global running
    total in revenue-desc order is minted by
    ``refops.distributed_cumsum`` (range exchange + partition-local
    window + broadcast prefix offsets) — NO partitionless window over
    the part catalog, which at 100 TB is itself fact-scale; the oracle
    is the single global SUM OVER window. One part-key aggregate + one
    range exchange + a 1-row total broadcast."""
    from ..functions.refops import distributed_cumsum

    li = load_table(spark, sf, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    ).withColumn("neg_rev", -F.col("rev"))
    c = distributed_cumsum(
        pr, order_by=["neg_rev", "l_partkey"], value_col="rev", name="cum"
    )
    total = pr.agg(F.sum("rev").alias("total"))
    starts = (F.col("cum") - F.col("rev")) * 100
    cls = (
        F.when(starts < 80 * F.col("total"), "A")
        .when(starts < 95 * F.col("total"), "B")
        .otherwise("C")
    )
    return (
        c.crossJoin(F.broadcast(total))
        .select("l_partkey", "rev", "cum", cls.alias("abc_class"))
        .orderBy("l_partkey")
    )


# ------------------------------------------------------ Gini / Lorenz ----
@query(
    "q310_gini_coefficient",
    oracle="""
    WITH r AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(cents) OVER () AS BIGINT) AS total
        FROM r
    ),
    agg AS (
        SELECT CAST(SUM(i * cents) AS BIGINT) AS weighted,
               MAX(n) AS n, MAX(total) AS total
        FROM ranked
    )
    SELECT n, total,
           CAST(2 * weighted - (n + 1) * total AS BIGINT) AS gini_num,
           n * total AS gini_den,
           CAST(floor(CAST(2 * weighted - (n + 1) * total AS DOUBLE)
                      / (n * total) * 1000000 + 0.5) AS BIGINT) AS gini_q
    FROM agg
    """,
)
def q310(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the Lorenz-
    curve inequality metric ('do 1% of customers drive 90% of revenue'),
    via the exact rank formula G = (2Σᵢ i·xᵢ − (n+1)Σx)/(nΣx) over
    ascending-sorted values: every term is exact BIGINT (integer cents,
    integer ranks), so the numerator/denominator pair is engine-exact
    and only the final presentation ratio divides. Rank is minted by
    `distributed_cumsum`'s sibling machinery
    (`deterministic_id(fact_scale=True)` — range exchange, per-partition
    row_number, broadcast offsets), never a partitionless window over
    the customer population; the Σ i·xᵢ reduction is one aggregate.
    Magnitude: Σ i·xᵢ ≤ n²·max_cents — overflow-checked headroom to
    ~10⁷ customers at 10⁶-cent orders; beyond that promote to
    DECIMAL(38,0) partials (documented, same plan)."""
    from ..functions.refops import deterministic_id

    o = load_table(spark, sf, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    ranked = deterministic_id(
        r, ["cents", "o_custkey"], name="i", fact_scale=True
    )
    tot = r.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    agg = ranked.agg(F.sum(F.col("i") * F.col("cents")).alias("weighted"))
    j = agg.crossJoin(F.broadcast(tot))
    num = 2 * F.col("weighted") - (F.col("n") + 1) * F.col("total")
    gini_q = F.floor(
        num.cast("double") / (F.col("n") * F.col("total")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return j.select(
        "n",
        "total",
        num.alias("gini_num"),
        (F.col("n") * F.col("total")).alias("gini_den"),
        gini_q.alias("gini_q"),
    )


# ------------------------------------------------------- silhouette ----
def _sil_dist_sql(a: str, b: str) -> str:
    """1e6-quantized euclidean distance; sequential fold (q155 idiom)."""
    sq = (
        f"list_reduce(list_transform(range(1, len({a}.v) + 1), "
        f"i -> ({a}.v[i] - {b}.v[i]) * ({a}.v[i] - {b}.v[i])), "
        "(x, y) -> x + y)"
    )
    return f"CAST(floor(sqrt({sq}) * 1000000 + 0.5) AS BIGINT)"


@query(
    "q317_silhouette_score",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    p AS (
        SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
               {_sil_dist_sql('a', 'b')} AS d
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    own AS (
        SELECT i, CAST(SUM(d) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS a_q
        FROM p WHERE li = lj GROUP BY i HAVING COUNT(*) > 0
    ),
    nearest AS (
        SELECT i, MIN(m) AS b_q FROM (
            SELECT i, lj,
                   CAST(SUM(d) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
            FROM p WHERE li <> lj GROUP BY i, lj
        ) GROUP BY i
    ),
    s AS (
        SELECT e.label, ((b_q - a_q) * 1000000) // GREATEST(a_q, b_q) AS s_q
        FROM own JOIN nearest USING (i) JOIN e ON e.vec_id = i
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(s_q) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
             AS mean_silhouette_q
    FROM s GROUP BY label ORDER BY label
    """,
)
def q317(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster silhouette score for the embedding labels — the
    clustering-quality metric (s ≈ +1 tight and separated, ≈ 0
    overlapping, < 0 misassigned) every unsupervised pipeline reports.
    Exactness engineering: each pair distance is a SEQUENTIAL float fold
    (the q155 bit-exact idiom) quantized to an integer immediately, so
    every downstream mean/min/ratio is integer floor-division — the
    order-dependence of float summation over engine-shuffled rows never
    arises. The O(n²) pair stage is the declared exact baseline (q94
    class); the 100 TB path replaces pairs with the centroid
    approximation (a(i)≈dist-to-own-centroid via q167's broadcast
    assignment, b(i)≈dist to nearest other centroid) — same downstream
    integer plan, documented rather than registered because the
    simplified silhouette is a different (bounded-error) statistic."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(
        F.col("vec_id").alias("i"), F.col("label").alias("li"), F.col("v").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("j"), F.col("label").alias("lj"), F.col("v").alias("vb")
    )
    sq = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d = F.floor(F.sqrt(sq) * 1_000_000 + F.lit(0.5)).cast("long")
    p = (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .select("i", "li", "lj", d.alias("d"))
        .transform(materialize)  # feeds both the own- and other-label aggs
    )

    def idiv(x, y):
        return ((x - x % y) / y).cast("long")

    own = (
        p.where(F.col("li") == F.col("lj"))
        .groupBy("i")
        .agg(idiv(F.sum("d"), F.count(F.lit(1))).alias("a_q"))
    )
    nearest = (
        p.where(F.col("li") != F.col("lj"))
        .groupBy("i", "lj")
        .agg(idiv(F.sum("d"), F.count(F.lit(1))).alias("m"))
        .groupBy("i")
        .agg(F.min("m").alias("b_q"))
    )
    s_q = idiv(
        (F.col("b_q") - F.col("a_q")) * 1_000_000,
        F.greatest("a_q", "b_q"),
    )
    s = (
        own.join(nearest, "i")
        .join(emb.select(F.col("vec_id").alias("i"), "label"), "i")
        .select("label", s_q.alias("s_q"))
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            idiv(F.sum("s_q"), F.count(F.lit(1))).alias("mean_silhouette_q"),
        )
        .orderBy("label")
    )


# ------------------------------------- expanding-window CV backtest ----
CV_FOLDS = 4
_US_DAY = 86_400_000_000


@query(
    "q327_expanding_cv_splits",
    oracle=f"""
    WITH ev AS (SELECT epoch_us(ts)//{_US_DAY} AS d FROM events),
    days AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY d),
    bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM days),
    folds AS (
        SELECT i,
               dmin + ((i * (dmax - dmin + 1)) // {CV_FOLDS + 1}) AS b_lo,
               dmin + (((i + 1) * (dmax - dmin + 1)) // {CV_FOLDS + 1})
                   AS b_hi
        FROM bounds, generate_series(1, {CV_FOLDS}) t(i)
    )
    SELECT CAST(f.i AS BIGINT) AS fold,
           CAST(COALESCE(SUM(CASE WHEN dd.d < f.b_lo THEN dd.c END), 0)
                AS BIGINT) AS train_rows,
           CAST(COALESCE(SUM(CASE WHEN dd.d >= f.b_lo AND dd.d < f.b_hi
                              THEN dd.c END), 0) AS BIGINT) AS test_rows,
           f.b_lo - 1 AS train_end_day,
           f.b_hi - 1 AS test_end_day
    FROM folds f CROSS JOIN days dd
    GROUP BY f.i, f.b_lo, f.b_hi
    ORDER BY fold
    """,
)
def q327(spark: SparkSession, sf: str) -> DataFrame:
    """Expanding-window time-series cross-validation splits — the
    backtest generalization of the single temporal holdout (q268):
    fold i trains on everything before boundary b_i and tests on
    [b_i, b_(i+1)), with integer day boundaries cut into {k}+1 equal
    slices so the assignment is exact in both engines. Scale shape:
    the raw stream reduces to per-day counts FIRST (one hash
    aggregate over the bounded day support), the 1-row min/max bound
    and the {k}-row fold table broadcast onto it (whitelisted BNLJ —
    the q320 scalar-broadcast class), and every fold's train/test
    row count is a conditional sum over O(days) rows. Nothing at
    data scale is replicated per fold."""
    ev = load_table(spark, sf, "events").select(
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_DAY}").alias(
            "d"
        )
    )
    days = ev.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    bounds = days.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    folds = (
        bounds.select(
            F.explode(F.sequence(F.lit(1), F.lit(CV_FOLDS))).alias("i"),
            "dmin",
            "dmax",
        )
        .select(
            F.col("i").cast("long").alias("fold"),
            F.expr(
                f"dmin + (i * (dmax - dmin + 1)) div {CV_FOLDS + 1}"
            ).alias("b_lo"),
            F.expr(
                f"dmin + ((i + 1) * (dmax - dmin + 1)) div {CV_FOLDS + 1}"
            ).alias("b_hi"),
        )
    )
    j = days.crossJoin(F.broadcast(folds))
    return (
        j.groupBy("fold", "b_lo", "b_hi")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("b_lo"), F.col("c"))),
                F.lit(0),
            ).alias("train_rows"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("d") >= F.col("b_lo"))
                        & (F.col("d") < F.col("b_hi")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("test_rows"),
        )
        .select(
            "fold",
            "train_rows",
            "test_rows",
            (F.col("b_lo") - 1).alias("train_end_day"),
            (F.col("b_hi") - 1).alias("test_end_day"),
        )
        .orderBy("fold")
    )


q327.__doc__ = q327.__doc__.format(k=CV_FOLDS)


# ------------------------------- nearest-centroid classifier confusion ----
def _centroid_confusion_sql() -> str:
    return """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
                 AS xq
        FROM embeddings
    ),
    comp AS (
        SELECT label, unnest(xq) AS v,
               unnest(range(1, len(xq) + 1)) AS d
        FROM e
    ),
    sums AS (
        SELECT label, d, CAST(SUM(v) AS BIGINT) AS s
        FROM comp GROUP BY label, d
    ),
    nlab AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY label),
    cent AS (
        SELECT s.label,
               list(CAST((1000 * s.s) // nl.n AS BIGINT) ORDER BY s.d) AS cq
        FROM sums s JOIN nlab nl ON nl.label = s.label
        GROUP BY s.label
    ),
    dist AS (
        SELECT e.vec_id, e.label AS true_label, c.label AS cand,
               list_reduce(
                   list_transform(range(1, len(e.xq) + 1),
                       i -> (1000 * e.xq[i] - c.cq[i])
                            * (1000 * e.xq[i] - c.cq[i])),
                   (x, y) -> x + y) AS d2
        FROM e CROSS JOIN cent c
    ),
    pred AS (
        SELECT vec_id, true_label, cand AS pred_label
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2, cand) AS rn FROM dist)
        WHERE rn = 1
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """


@query("q338_nearest_centroid_confusion", oracle=_centroid_confusion_sql())
def q338(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-centroid classification over the embedding table with its
    confusion matrix — the cheapest supervised sanity check an
    embedding pipeline runs (labels whose centroids collapse into each
    other show up as off-diagonal mass). Exactness engineering:
    components are 1e3-quantized BEFORE any cross-row sum, so centroid
    accumulation is exact integer math with no float-order dependence;
    centroids are fixed-point milli-of-quantized ((1000·sum) div n) and
    distances are integer zip_with folds — every value hash-matches.
    Scale shape: per-(label, dim) hash aggregate builds the centroids
    (O(labels·dims) rows), the candidate space is vec × |labels| via a
    BROADCAST of the 10-row centroid table (never vec × vec), and the
    argmin is a per-vec window over |labels| rows. This composes
    q156's centroid build with q167's broadcast assignment step, adds
    the supervised argmin + confusion report, and ties the whole chain
    to a value-hash oracle."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("long"),
        ).alias("xq"),
    ).transform(materialize)  # feeds centroid build AND assignment
    comp = emb.select(
        "label", F.posexplode("xq").alias("p", "v")
    ).select("label", (F.col("p") + 1).alias("d"), "v")
    sums = comp.groupBy("label", "d").agg(
        F.sum("v").cast("long").alias("s")
    )
    nlab = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cent = (
        sums.join(F.broadcast(nlab), "label")
        .select("label", "d", F.expr("CAST((1000 * s) div n AS BIGINT)").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))),
                lambda st: st["c"],
            ).alias("cq")
        )
    )
    dist = (
        emb.crossJoin(
            F.broadcast(
                cent.select(F.col("label").alias("cand"), "cq")
            )
        )
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "cand",
            F.aggregate(
                F.zip_with(
                    "xq",
                    "cq",
                    lambda x, c: (1000 * x - c) * (1000 * x - c),
                ),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("d2"),
        )
    )
    wv = W.partitionBy("vec_id").orderBy("d2", "cand")
    pred = (
        dist.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("true_label", F.col("cand").alias("pred_label"))
    )
    return (
        pred.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


# ------------------------------------------------- grid-blocked DBSCAN ----
DBSCAN_N = 800  # bounded, SF-independent point sample (see docstring)
DBSCAN_MINPTS = 7  # core iff >= 7 eps-neighbors (self excluded)


def _dbscan_sql() -> str:
    from .extensions import _H64

    px = _H64.format(x="'x:' || CAST(event_id AS VARCHAR)") + " % 2000 / 100.0"
    py = _H64.format(x="'y:' || CAST(event_id AS VARCHAR)") + " % 2000 / 100.0"
    return f"""
    WITH RECURSIVE pts AS (
        SELECT event_id AS pid, {px} AS x, {py} AS y
        FROM events WHERE event_id < {DBSCAN_N}
    ),
    pairs AS (
        SELECT a.pid AS pa, b.pid AS pb
        FROM pts a JOIN pts b
          ON a.pid < b.pid
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 1.0
    ),
    und AS (SELECT pa AS p, pb AS q FROM pairs
            UNION ALL SELECT pb, pa FROM pairs),
    cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM und GROUP BY p),
    core AS (SELECT p FROM cnt WHERE n >= {DBSCAN_MINPTS}),
    cedges AS (
        SELECT u.p AS src, u.q AS dst FROM und u
        WHERE u.p IN (SELECT p FROM core) AND u.q IN (SELECT p FROM core)
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM cedges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS p, LEAST(src, MIN(dst)) AS label
        FROM reach GROUP BY src
    ),
    corelab AS (
        SELECT c.p, CAST(COALESCE(m.label, c.p) AS BIGINT) AS label
        FROM core c LEFT JOIN comp m ON m.p = c.p
    ),
    border AS (
        SELECT u.p, CAST(MIN(cl.label) AS BIGINT) AS label
        FROM und u JOIN corelab cl ON cl.p = u.q
        WHERE u.p NOT IN (SELECT p FROM core)
        GROUP BY u.p
    )
    SELECT p.pid,
           CASE WHEN cl.p IS NOT NULL THEN 'core'
                WHEN b.p IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.label, b.label) AS cluster_label
    FROM pts p
    LEFT JOIN corelab cl ON cl.p = p.pid
    LEFT JOIN border b ON b.p = p.pid
    ORDER BY p.pid
    """


@query("q339_dbscan_grid", oracle=_dbscan_sql())
def q339(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density clustering, fully distributed: eps-neighbor pairs
    come from q236's grid-cell equi-join (3×3 neighborhood, provably
    complete for eps = cell size), core points from one hash-aggregated
    neighbor count (core iff ≥ {mp} neighbors, self excluded — pinned
    contract), clusters from min-label connected components over the
    core-core subgraph (operators/dedup.connected_components — the
    q108 machinery), and border points take the MINIMUM neighboring
    core's cluster label (classic DBSCAN leaves border assignment
    order-dependent; the min rule makes it deterministic and
    oracle-checkable). The point sample is BOUNDED by declared design
    ({n} hash-synthesized points, identical at every SF): the oracle's
    recursive transitive closure explodes on the giant components that
    density above the percolation threshold produces, so density is
    pinned where core/border/noise all occur. The Spark plan has no
    such bound — grid join, hash aggs, broadcast semi-joins, and
    per-round CC shuffles all scale with points, and at 100 TB the
    same plan runs on real coordinates with AQE splitting dense
    cells."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") < DBSCAN_N)
    x = h64(F.concat(F.lit("x:"), F.col("event_id").cast("string"))) % 2000 / 100.0
    y = h64(F.concat(F.lit("y:"), F.col("event_id").cast("string"))) % 2000 / 100.0
    pts = ev.select(
        F.col("event_id").alias("pid"),
        x.alias("x"),
        y.alias("y"),
        F.floor(x).alias("cx"),
        F.floor(y).alias("cy"),
    ).transform(materialize)  # probe side, build side, final report
    neigh = pts.select(
        F.col("pid").alias("pa"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("gx"),
                        (F.col("cy") + dy).alias("gy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    ).select("pa", "xa", "ya", "cell.gx", "cell.gy")
    d2 = (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x")) + (
        F.col("ya") - F.col("y")
    ) * (F.col("ya") - F.col("y"))
    pairs = (
        neigh.join(
            pts,
            (F.col("gx") == F.col("cx"))
            & (F.col("gy") == F.col("cy"))
            & (F.col("pa") < F.col("pid")),
        )
        .where(d2 <= 1.0)
        .select(F.col("pa"), F.col("pid").alias("pb"))
        .transform(materialize)  # counts + core edges + border probe
    )
    und = pairs.select(F.col("pa").alias("p"), F.col("pb").alias("q")).unionByName(
        pairs.select(F.col("pb").alias("p"), F.col("pa").alias("q"))
    )
    cnt = und.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    core = materialize(
        cnt.where(F.col("n") >= DBSCAN_MINPTS).select("p")
    )
    cedges = (
        und.join(core, "p", "left_semi")
        .join(core.select(F.col("p").alias("q")), "q", "left_semi")
        .select(F.col("p").alias("doc_a"), F.col("q").alias("doc_b"))
    )
    from ..operators.dedup import connected_components

    labels = connected_components(
        cedges, core.select(F.col("p").alias("doc_id"))
    )
    corelab = (
        core.join(labels, core.p == labels.id, "left")
        .select(
            F.col("p"),
            F.coalesce(F.col("label"), F.col("p")).cast("long").alias("label"),
        )
        .transform(materialize)  # border assignment + final report
    )
    border = (
        und.join(core, "p", "left_anti")
        .join(
            corelab.select(F.col("p").alias("q"), F.col("label")),
            "q",
        )
        .groupBy("p")
        .agg(F.min("label").cast("long").alias("blabel"))
    )
    return (
        pts.select("pid")
        .join(corelab.select(F.col("p").alias("pid"), "label"), "pid", "left")
        .join(
            border.select(F.col("p").alias("pid"), "blabel"), "pid", "left"
        )
        .select(
            "pid",
            F.when(F.col("label").isNotNull(), F.lit("core"))
            .when(F.col("blabel").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("label"), F.col("blabel")).alias("cluster_label"),
        )
        .orderBy("pid")
    )


q339.__doc__ = q339.__doc__.format(mp=DBSCAN_MINPTS, n=DBSCAN_N)


# ----------------------------------------------- Zipf rank-frequency fit --
ZIPF_TOP = 500  # fit over the head ranks (standard Zipf-law practice)


def _zipf_sql() -> str:
    from .extensions import _WORDS  # noqa: F811

    return f"""
    WITH tok AS (
        SELECT source, unnest({_WORDS.format(c='text')}) AS w FROM documents
    ),
    freq AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok GROUP BY source, w
    ),
    ranked AS (
        SELECT source, f,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY f DESC, w) AS r
        FROM freq
    ),
    terms AS (
        SELECT source,
               CAST(floor(ln(r) * 1e6 + 0.5) AS BIGINT) AS xq,
               CAST(floor(ln(f) * 1e6 + 0.5) AS BIGINT) AS yq
        FROM ranked WHERE r <= {ZIPF_TOP}
    ),
    m AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy
        FROM terms GROUP BY source
    )
    SELECT source, n,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * 1e6 + 0.5) / 1e6 AS zipf_slope
    FROM m ORDER BY source
    """


@query("q341_zipf_slope", oracle=_zipf_sql())
def q341(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency fit per source: OLS slope of ln f against
    ln r over the top-{top} token ranks — the corpus-health diagnostic
    (natural text sits near −1; template/boilerplate-heavy or
    synthetic-spam sources drift shallow or steep, so the slope is a
    cheap source-level quality gate next to q99/q213). Exactness: the
    ln terms are nano-quantized to integers the moment they are
    computed (the q171 discipline — float summation order never
    matters because the moments Σx, Σy, Σxx, Σxy are exact BIGINT
    sums), and the final slope is one double division rounded
    deterministically. Scale shape: token counts are one hash
    aggregate; ranking runs per-source over the O(vocab) frequency
    table (aggregate output, not data-scale rows) and the fit reads
    only the top-{top} head."""
    from ._util import round_det

    docs = load_table(spark, sf, "documents")
    tok = docs.select("source", F.explode(words("text")).alias("w"))
    freq = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    wr = W.partitionBy("source").orderBy(F.col("f").desc(), "w")
    ranked = freq.withColumn("r", F.row_number().over(wr)).where(
        F.col("r") <= ZIPF_TOP
    )
    terms = ranked.select(
        "source",
        F.floor(F.log("r") * 1e6 + F.lit(0.5)).cast("long").alias("xq"),
        F.floor(F.log("f") * 1e6 + F.lit(0.5)).cast("long").alias("yq"),
    )
    m = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    return m.select(
        "source", "n", round_det(slope, 6).alias("zipf_slope")
    ).orderBy("source")


q341.__doc__ = q341.__doc__.format(top=ZIPF_TOP)


# ---------------------------------------------- Kaplan-Meier survival -----
KM_CENSOR_DAYS = 7  # still active within N days of corpus end => censored


def _km_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts)//{_US_DAY} AS d FROM events
    ),
    users AS (
        SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
        FROM ev GROUP BY user_id
    ),
    mx AS (SELECT MAX(d) AS mx FROM ev),
    durs AS (
        SELECT u.last_d - u.first_d AS t,
               CASE WHEN u.last_d < mx.mx - {KM_CENSOR_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM users u CROSS JOIN mx
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM durs),
    sup AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS leaving,
               CAST(SUM(churned) AS BIGINT) AS d_events
        FROM durs GROUP BY t
    ),
    risk AS (
        SELECT s.t, s.d_events,
               CAST(tot.n - COALESCE(SUM(s.leaving) OVER (
                   ORDER BY s.t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        FROM sup s CROSS JOIN tot
    ),
    terms AS (
        SELECT t, d_events, n_risk,
               CASE WHEN d_events < n_risk THEN
                   CAST(floor(ln(1.0 - CAST(d_events AS DOUBLE)
                                     / CAST(n_risk AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS ln_q,
               CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS hit_zero
        FROM risk WHERE d_events > 0
    ),
    curve AS (
        SELECT t, d_events, n_risk,
               SUM(ln_q) OVER (ORDER BY t) AS ln_s,
               MAX(hit_zero) OVER (ORDER BY t) AS zeroed
        FROM terms
    )
    SELECT t AS duration_days, n_risk, d_events,
           CAST(CASE WHEN zeroed = 1 THEN 0
                ELSE floor(exp(CAST(ln_s AS DOUBLE) / 1e9) * 1e6 + 0.5)
                END AS BIGINT) AS km_ppm
    FROM curve ORDER BY t
    """


@query("q346_kaplan_meier", oracle=_km_sql())
def q346(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival curve over user activity lifetimes with
    right-censoring — the retention statistic that plain churn rates
    get wrong (a user still active near the corpus end hasn't churned,
    they're CENSORED; KM counts them at risk until their observed
    duration, then removes them without a death event). Duration =
    active span in days; churn event iff the user went quiet more than
    {c} days before the corpus ends. Exactness: at each event time the
    at-risk and event counts are exact integers from one hash
    aggregate + a cumulative window over the O(distinct durations)
    support (bounded by the corpus day span — q309 class), the
    ln(1 − d/n) terms are nano-quantized on identical double inputs,
    the log-survival is an exact integer sum, and the d = n
    (survival-hits-zero) edge is pinned via an explicit flag rather
    than ln(0). Scale: nothing rank-based touches raw rows; the curve
    is O(days)."""
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_DAY}").alias("d"),
    )
    users = ev.groupBy("user_id").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d")
    )
    mx = ev.agg(F.max("d").alias("mx"))
    durs = users.crossJoin(F.broadcast(mx)).select(
        (F.col("last_d") - F.col("first_d")).alias("t"),
        F.when(
            F.col("last_d") < F.col("mx") - KM_CENSOR_DAYS, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("churned"),
    )
    tot = durs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sup = durs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("leaving"),
        F.sum("churned").cast("long").alias("d_events"),
    )
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = sup.crossJoin(F.broadcast(tot)).select(
        "t",
        "d_events",
        (
            F.col("n")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    frac = F.col("d_events").cast("double") / F.col("n_risk").cast("double")
    terms = risk.where(F.col("d_events") > 0).select(
        "t",
        "d_events",
        "n_risk",
        F.when(
            F.col("d_events") < F.col("n_risk"),
            F.floor(F.log(1.0 - frac) * 1e9 + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("ln_q"),
        F.when(F.col("d_events") >= F.col("n_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("hit_zero"),
    )
    w_cum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    curve = terms.select(
        "t",
        "d_events",
        "n_risk",
        F.sum("ln_q").over(w_cum).alias("ln_s"),
        F.max("hit_zero").over(w_cum).alias("zeroed"),
    )
    return curve.select(
        F.col("t").alias("duration_days"),
        "n_risk",
        "d_events",
        F.when(F.col("zeroed") == 1, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.exp(F.col("ln_s").cast("double") / 1e9) * 1e6 + F.lit(0.5)
            ).cast("long")
        )
        .alias("km_ppm"),
    ).orderBy("duration_days")


q346.__doc__ = q346.__doc__.format(c=KM_CENSOR_DAYS)


# -------------------------------------- exact average precision (PR-AUC) --
@query(
    "q362_average_precision",
    oracle="""
    WITH r AS (
        SELECT CAST(floor(embedding[1] * 1000000000 + 0.5) AS BIGINT) AS s,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    g AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s,
               CAST(SUM(pos) AS BIGINT) AS p_s
        FROM r GROUP BY s
    ),
    c AS (
        SELECT s, n_s, p_s,
               CAST(SUM(n_s) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_n,
               CAST(SUM(p_s) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_p,
               CAST(SUM(p_s) OVER () AS BIGINT) AS np,
               CAST(SUM(n_s) OVER () AS BIGINT) AS n
        FROM g
    ),
    t AS (
        SELECT n, np,
               CAST(floor(CAST(p_s AS DOUBLE) * CAST(cum_p AS DOUBLE)
                          / CAST(np AS DOUBLE) / CAST(cum_n AS DOUBLE)
                          * 1000000000000.0) AS BIGINT) AS term_q
        FROM c
    )
    SELECT MAX(n) AS n, MAX(np) AS n_pos,
           CAST(SUM(term_q) // 1000000 AS BIGINT) AS ap_q
    FROM t
    """,
)
def q362(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT average precision (area under the precision-recall curve at
    distinct score thresholds — sklearn's ``average_precision_score``
    definition), the PR-space twin of q252's ROC AUC: same (score,
    label) stream, but the aggregation identity is
    AP = Σ_thresholds ΔRecall·Precision, which — unlike ROC AUC — stays
    informative under heavy class imbalance (the regime of every
    quality-gate classifier on web corpora).

    Exactness: scores quantize to a 1e-9 integer grid and collapse to
    one row per DISTINCT score (ties form one threshold step, exactly
    sklearn's contract); running totals (cum_n, cum_p) over the score
    axis come from ONE `refops.distributed_cumsum` materialization —
    the new multi-column form mints both prefix sums from the same
    frozen range partitioning, so there is no second exchange and no
    tie-placement drift between passes. Each threshold's term is a
    fixed IEEE float sequence floored to a 1e-12 grid and summed in
    BIGINT (associative — partial aggregation in any merge order), and
    the final AP is an integer floor-division to a 1e-6 grid.

    Scale: one hash aggregate onto the score support + one range
    exchange over DISTINCT scores (cardinality-bounded, not
    row-bounded) + a 1-row reduce. The oracle's global window is
    exactly the partitionless plan the range exchange replaces."""
    from ..functions.refops import distributed_cumsum

    emb = load_table(spark, sf, "embeddings")
    rows = emb.select(
        F.floor(
            F.element_at(F.col("embedding"), 1).cast("double") * 1e9 + F.lit(0.5)
        )
        .cast("long")
        .alias("s"),
        (F.col("label") < 5).cast("int").alias("pos"),
    )
    g = (
        rows.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_s"), F.sum("pos").alias("p_s"))
        .withColumn("ns", -F.col("s"))
    )
    c = distributed_cumsum(
        g, ["ns"], ["n_s", "p_s"], ["cum_n", "cum_p"]
    )
    term = (
        F.floor(
            F.col("p_s").cast("double")
            * F.col("cum_p").cast("double")
            / F.col("np").cast("double")
            / F.col("cum_n").cast("double")
            * F.lit(1e12)
        )
        .cast("long")
        .alias("term_q")
    )
    tot = c.agg(
        F.sum("p_s").cast("long").alias("np"),
        F.sum("n_s").cast("long").alias("n"),
    )
    t = c.crossJoin(F.broadcast(tot)).select("n", "np", term)
    return t.agg(
        F.max("n").alias("n"),
        F.max("np").alias("n_pos"),
        F.expr("CAST(SUM(term_q) div 1000000 AS BIGINT)").alias("ap_q"),
    )


# ----------------------------------- NDCG@k popularity-recommender eval ---
NDCG_K = 10
# integer DCG weights: w[pos] = round(1e9 / log2(pos+1)), precomputed ONCE
# host-side so neither engine evaluates a libm log at query time (the repo's
# cross-engine no-libm rule); both sides consume the identical constants.
_NDCG_W = [round(1_000_000_000 / math.log2(p + 1)) for p in range(1, NDCG_K + 1)]
_NDCG_PREFIX = [sum(_NDCG_W[: i + 1]) for i in range(NDCG_K)]
_NDCG_CUTOFF = "DATE '2000-01-01'"


def _ndcg_sql() -> str:
    w_case = " ".join(
        f"WHEN {p + 1} THEN {w}" for p, w in enumerate(_NDCG_W)
    )
    p_case = " ".join(
        f"WHEN {i + 1} THEN {s}" for i, s in enumerate(_NDCG_PREFIX)
    )
    return f"""
    WITH train AS (
        SELECT l.l_partkey AS partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate < {_NDCG_CUTOFF}
        GROUP BY 1
    ),
    top10 AS (
        SELECT partkey,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, partkey) AS pos
        FROM train QUALIFY pos <= {NDCG_K}
    ),
    hold AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= {_NDCG_CUTOFF}
    ),
    nrel AS (
        SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM hold GROUP BY custkey
    ),
    dcg AS (
        SELECT h.custkey, CAST(COUNT(*) AS BIGINT) AS hits,
               CAST(SUM(CASE t.pos {w_case} END) AS BIGINT) AS dcg_num
        FROM hold h JOIN top10 t USING (partkey) GROUP BY h.custkey
    )
    SELECT n.custkey, n.n_rel,
           CAST(COALESCE(d.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(d.dcg_num, 0) * 1000000
                // (CASE least(n.n_rel, {NDCG_K}) {p_case} END)
                AS BIGINT) AS ndcg_q
    FROM nrel n LEFT JOIN dcg d ON n.custkey = d.custkey
    ORDER BY n.custkey
    """


@query("q363_ndcg_popularity", oracle=_ndcg_sql())
def q363(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@10 per customer for the simplest
    production recommender — "recommend everyone the globally
    most-popular items" — trained on pre-2000 purchases and evaluated
    on each customer's post-2000 holdout basket. The popularity
    baseline is THE sanity floor every ranking model must beat, and
    NDCG is the position-discounted metric it is beaten on; this
    completes the ranking family next to q325 (rank FUSION) and q326
    (rank DRIFT), which compare rankings to each other, not to held-out
    relevance.

    DCG discounts (1/log2(pos+1)) are integer constants minted ONCE
    host-side (no engine evaluates a log — the no-libm rule), the ideal
    DCG is a prefix-sum CASE on min(n_rel, 10), and the final NDCG is
    an exact BIGINT floor-division to a 1e-6 grid — all integer
    arithmetic end to end.

    Scale shape: train-side popularity is one hash aggregate over
    partkey (catalog-bounded) and the top-10 a TakeOrdered; the 10-row
    ranked list BROADCASTS to the holdout join, so per-customer DCG
    costs one equi-join against 10 rows + one aggregate — no shuffle
    grows with the recommendation list, and nothing is O(customers ×
    catalog)."""
    cutoff = F.lit("2000-01-01").cast("date")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    od = F.col("o_orderdate").cast("date")
    train = (
        li.join(
            orders.where(od < cutoff).select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top10 = train.orderBy(F.desc("cnt"), "partkey").limit(NDCG_K)
    wpos = W.orderBy(F.desc("cnt"), "partkey")
    top10 = top10.select(
        "partkey", F.row_number().over(wpos).alias("pos")
    )
    hold = (
        li.join(
            orders.where(od >= cutoff).select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    nrel = hold.groupBy("custkey").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    wmap = F.create_map(
        *[F.lit(x) for p, w in enumerate(_NDCG_W) for x in (p + 1, w)]
    )
    pmap = F.create_map(
        *[F.lit(x) for i, s in enumerate(_NDCG_PREFIX) for x in (i + 1, s)]
    )
    dcg = (
        hold.join(F.broadcast(top10), "partkey")
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("hits"),
            F.sum(wmap[F.col("pos")]).cast("long").alias("dcg_num"),
        )
    )
    return (
        nrel.join(dcg, "custkey", "left")
        .withColumn("idcg", pmap[F.least(F.col("n_rel"), F.lit(NDCG_K))])
        .select(
            "custkey",
            "n_rel",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(
                "CAST(coalesce(dcg_num, 0) * 1000000 div idcg AS BIGINT)"
            ).alias("ndcg_q"),
        )
        .orderBy("custkey")
    )


# ------------------------------------- systematic PPS token sampling ------
PPS_N = 100


@query(
    "q365_systematic_pps_sample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len({_WORDS.format(c='text')}) AS n_tokens,
               {_H64.format(x="'pps:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    nz AS (SELECT * FROM t WHERE n_tokens > 0),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS w
        FROM nz
    ),
    s AS (
        SELECT doc_id, n_tokens,
               ((2 * {PPS_N} * hi + w - 1) // w) // 2
               - ((2 * {PPS_N} * (hi - n_tokens) + w - 1) // w) // 2
                   AS n_hits
        FROM c
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_hits AS BIGINT) AS n_hits
    FROM s WHERE n_hits > 0 ORDER BY doc_id
    """,
)
def q365(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: {n} midpoint
    selection points p_k = (2k+1)·W/(2n) sweep the cumulative token axis
    (documents in salted-hash order, so the systematic sweep is
    decorrelated from ingest order without any RNG), and a document is
    drawn once per point inside its cumulative interval — big documents
    can legitimately be drawn twice (n_hits carries the multiplicity;
    that IS textbook systematic PPS). The family twin framing: q239/q251
    draw WITHOUT replacement via exponential keys (A-ES) and q145 keeps
    a fixed-k reservoir; systematic PPS is the zero-variance-spread
    design dataloaders favor for token-budget sampling, and unlike A-ES
    its inclusion rule here is EXACT INTEGER arithmetic — a point m·W ∈
    [2n·lo, 2n·hi) count, evaluated as a difference of two odd-count
    ceil-divisions, no floats anywhere (the log-key ulp caveat ADVICE
    noted on q239 cannot exist here).

    Scale: ONE range exchange mints the cumulative axis
    (`distributed_cumsum`), the total W rides the same pass as a 1-row
    broadcast, and the hit count is a row-local closed form — no join,
    no second shuffle, no per-point explode."""
    from ..functions.refops import distributed_cumsum

    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "doc_id",
        word_count("text").alias("n_tokens"),
        h64(F.concat(F.lit("pps:"), F.col("doc_id").cast("string"))).alias("h"),
    ).where(F.col("n_tokens") > 0)
    c = distributed_cumsum(t, ["h", "doc_id"], "n_tokens", name="hi")
    tot = c.agg(F.sum("n_tokens").cast("long").alias("w"))
    cc = c.crossJoin(F.broadcast(tot))
    two_n = 2 * PPS_N
    hits = F.expr(
        f"(({two_n} * hi + w - 1) div w) div 2"
        f" - (({two_n} * (hi - n_tokens) + w - 1) div w) div 2"
    )
    return (
        cc.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            hits.cast("long").alias("n_hits"),
        )
        .where(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


q365.__doc__ = q365.__doc__.format(n=PPS_N)


# ------------------------------------------ label-noise kNN audit ---------
KNN_NOISE_K = 5


def _label_noise_sql() -> str:
    dist = (
        "(list_dot_product(CAST(a.embedding AS DOUBLE[]),"
        " CAST(a.embedding AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST(a.embedding AS DOUBLE[]),"
        " CAST(b.embedding AS DOUBLE[]))"
        " + list_dot_product(CAST(b.embedding AS DOUBLE[]),"
        " CAST(b.embedding AS DOUBLE[])))"
    )
    return f"""
    WITH pairs AS (
        SELECT a.vec_id AS i, a.label AS own, b.vec_id AS j,
               b.label AS nlabel,
               CAST(floor({dist} * 1000000000 + 0.5) AS BIGINT) AS d
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT i, own, nlabel,
               ROW_NUMBER() OVER (PARTITION BY i ORDER BY d, j) AS rn
        FROM pairs QUALIFY rn <= {KNN_NOISE_K}
    ),
    votes AS (
        SELECT i, own, nlabel, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM knn GROUP BY i, own, nlabel
    ),
    top AS (
        SELECT i, own, nlabel AS maj, cnt,
               ROW_NUMBER() OVER (PARTITION BY i
                    ORDER BY cnt DESC, nlabel) AS vr
        FROM votes QUALIFY vr = 1
    )
    SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN maj <> own AND cnt * 2 > {KNN_NOISE_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN maj <> own AND cnt * 2 > {KNN_NOISE_K}
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
               AS flagged_ppm
    FROM top GROUP BY own ORDER BY label
    """


@query("q372_label_noise_knn", oracle=_label_noise_sql())
def q372(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise audit by k-NN disagreement (Confident-Learning-lite):
    a vector whose {k} nearest neighbors hold a STRICT-majority label
    different from its own is flagged as probably mislabeled — the
    training-data QA gate run before any supervised fine-tune. This is
    the declared bounded-n exact baseline (the q94/q95 class; at corpus
    scale the identical vote runs over q96/q106's LSH/IVF candidate
    lists instead of the full pair space — the docstring contract those
    ANN operators exist for).

    Exactness: squared-L2 distance needs NO sqrt (no libm) — one pinned
    IEEE sequence qq − 2·qc + cc of sequential-fold dot products,
    floor-quantized to a 1e-9 integer grid; neighbor ties break on
    vec_id, vote ties on label — every rank deterministic. Per-label
    output: vectors, strict-majority-flagged count, exact ppm rate."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, s: acc + s,
        )
    a = emb.select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("own"),
        F.col("v").alias("va"),
        dot(F.col("v"), F.col("v")).alias("qq"),
    )
    b = emb.select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("vb"),
        dot(F.col("v"), F.col("v")).alias("cc"),
    )
    pairs = a.join(b, F.col("i") != F.col("j")).select(
        "i",
        "own",
        "j",
        "nlabel",
        F.floor(
            (F.col("qq") - 2 * dot(F.col("va"), F.col("vb")) + F.col("cc"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("d"),
    )
    wk = W.partitionBy("i").orderBy("d", "j")
    knn = pairs.select(
        "i", "own", "nlabel", F.row_number().over(wk).alias("rn")
    ).where(F.col("rn") <= KNN_NOISE_K)
    votes = knn.groupBy("i", "own", "nlabel").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = W.partitionBy("i").orderBy(F.desc("cnt"), "nlabel")
    top = votes.select(
        "i",
        "own",
        F.col("nlabel").alias("maj"),
        "cnt",
        F.row_number().over(wv).alias("vr"),
    ).where(F.col("vr") == 1)
    flag = (
        (F.col("maj") != F.col("own")) & (F.col("cnt") * 2 > KNN_NOISE_K)
    ).cast("int")
    return (
        top.groupBy(F.col("own").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(flag).cast("long").alias("n_flagged"),
            F.expr(
                f"CAST(SUM(CASE WHEN maj <> own AND cnt * 2 > {KNN_NOISE_K}"
                " THEN 1 ELSE 0 END) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("flagged_ppm"),
        )
        .orderBy("label")
    )


q372.__doc__ = q372.__doc__.format(k=KNN_NOISE_K)


# ------------------------------------- mutual nearest neighbors -----------
def _mutual_nn_sql() -> str:
    dist = (
        "(list_dot_product(CAST(a.embedding AS DOUBLE[]),"
        " CAST(a.embedding AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST(a.embedding AS DOUBLE[]),"
        " CAST(b.embedding AS DOUBLE[]))"
        " + list_dot_product(CAST(b.embedding AS DOUBLE[]),"
        " CAST(b.embedding AS DOUBLE[])))"
    )
    return f"""
    WITH pairs AS (
        SELECT a.vec_id AS i, a.label AS il, b.vec_id AS j, b.label AS jl,
               CAST(floor({dist} * 1000000000 + 0.5) AS BIGINT) AS d
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    nn AS (
        SELECT i, il, j, jl, d,
               ROW_NUMBER() OVER (PARTITION BY i ORDER BY d, j) AS rn
        FROM pairs QUALIFY rn = 1
    )
    SELECT n1.i AS vec_a, n1.j AS vec_b, n1.d AS dist_q9,
           CAST(CASE WHEN n1.il = n1.jl THEN 1 ELSE 0 END AS BIGINT)
               AS same_label
    FROM nn n1 JOIN nn n2 ON n1.j = n2.i AND n2.j = n1.i
    WHERE n1.i < n1.j
    ORDER BY vec_a
    """


@query("q381_mutual_nn_pairs", oracle=_mutual_nn_sql())
def q381(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual nearest neighbors: pairs (a, b) where each is the other's
    single closest vector — the reciprocal-best-match criterion behind
    parallel-corpus mining (two sentences that pick each other across
    languages are translation candidates) and high-precision entity
    matching, far stricter than q372's one-directional kNN vote: a hub
    vector that is everyone's neighbor mutualizes with at most ONE of
    them. Declared bounded-n exact baseline (q94/q95/q372 class); at
    corpus scale the identical reciprocity filter runs over q96/q106's
    ANN candidate lists — a self-join on the (i, nn) table either way.
    Same pinned distance grid as q372: sqrt-free squared-L2 folded
    sequentially, floor-quantized to 1e-9 units; ties break on vec_id.
    same_label rides along as the purity signal (mutual pairs crossing
    labels are either label noise — q372's quarry — or true duplicates
    — q219's)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, s: acc + s,
        )

    a = emb.select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("il"),
        F.col("v").alias("va"),
        dot(F.col("v"), F.col("v")).alias("qq"),
    )
    b = emb.select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("jl"),
        F.col("v").alias("vb"),
        dot(F.col("v"), F.col("v")).alias("cc"),
    )
    pairs = a.join(b, F.col("i") != F.col("j")).select(
        "i",
        "il",
        "j",
        "jl",
        F.floor(
            (F.col("qq") - 2 * dot(F.col("va"), F.col("vb")) + F.col("cc"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("d"),
    )
    wk = W.partitionBy("i").orderBy("d", "j")
    nn = (
        pairs.select(
            "i", "il", "j", "jl", "d", F.row_number().over(wk).alias("rn")
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .transform(materialize)
    )
    n2 = nn.select(F.col("i").alias("j2"), F.col("j").alias("i2"))
    return (
        nn.join(
            n2, (nn.j == F.col("j2")) & (nn.i == F.col("i2")), "left_semi"
        )
        .where(F.col("i") < F.col("j"))
        .select(
            F.col("i").alias("vec_a"),
            F.col("j").alias("vec_b"),
            F.col("d").alias("dist_q9"),
            F.when(F.col("il") == F.col("jl"), 1)
            .otherwise(0)
            .cast("long")
            .alias("same_label"),
        )
        .orderBy("vec_a")
    )


# -------------------- isotonic calibration (weighted PAV, closed form) -----
ISO_BINS = 20


def _isotonic_sql() -> str:
    return f"""
    WITH o AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hot
        FROM orders
    ),
    bounds AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o),
    binned AS (
        SELECT LEAST({ISO_BINS} - 1,
                     (cents - lo) * {ISO_BINS} // (hi - lo + 1)) AS b,
               hot
        FROM o CROSS JOIN bounds
    ),
    g AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(hot) AS BIGINT) AS u
        FROM binned GROUP BY b
    ),
    c AS (
        SELECT b, n, u,
               SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
               SUM(u) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cu
        FROM g
    ),
    a AS (
        SELECT i.b AS i, k.b AS k,
               (k.cu - i.cu + i.u) * 1000000000
                   // (k.cn - i.cn + i.n) AS aq
        FROM c i JOIN c k ON i.b <= k.b
    ),
    mn AS (
        SELECT j.b AS j, a.i, MIN(a.aq) AS m
        FROM g j JOIN a ON a.i <= j.b AND a.k >= j.b
        GROUP BY j.b, a.i
    ),
    fit AS (SELECT j, CAST(MAX(m) AS BIGINT) AS iso_q9 FROM mn GROUP BY j)
    SELECT g.b AS bin, g.n, g.u AS n_hot,
           CAST(g.u * 1000000000 // g.n AS BIGINT) AS raw_rate_q9,
           f.iso_q9 AS iso_rate_q9
    FROM g JOIN fit f ON f.j = g.b
    ORDER BY bin
    """


@query("q395_isotonic_calibration", oracle=_isotonic_sql())
def q395(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (monotone) calibration of the urgent-order rate against
    {b} equi-width price bins — weighted PAV computed in CLOSED FORM via
    the min-max identity fitted_j = max_(i≤j) min_(k≥j) avg(i..k),
    which equals pool-adjacent-violators exactly for weighted L2 — the
    monotonizing step sklearn's IsotonicRegression applies after q287
    builds the raw reliability table (raw bin rates can zig-zag from
    noise; a calibrated score must be monotone). PAV itself is a
    sequential pooling loop no engine parallelizes; the min-max form
    turns it into TWO bounded aggregates over the O(bins²) averages
    table — the same sequential→closed-form trade as q364's FIFO.

    Determinism: interval averages are quantized to the 1e-9 integer
    grid BEFORE min/max (the pinned-objective discipline of q390);
    integer division and MIN/MAX commute with nothing float. Scale:
    one data-scale pass bins and counts; the A-table is bins(bins+1)/2
    rows and the min-max double aggregate O(bins³) worst case on a
    BOUNDED support — bins is a report knob, not a data scale."""
    o = load_table(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("hot"),
    )
    bounds = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = o.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(ISO_BINS - 1),
            F.expr(f"(cents - lo) * {ISO_BINS} div (hi - lo + 1)"),
        ).alias("b"),
        "hot",
    )
    g = binned.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hot").cast("long").alias("u"),
    ).transform(materialize)
    w_iso = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    c = g.select(
        "b",
        "n",
        "u",
        F.sum("n").over(w_iso).alias("cn"),
        F.sum("u").over(w_iso).alias("cu"),
    )
    i = c.select(
        F.col("b").alias("i"),
        F.col("n").alias("ni"),
        F.col("u").alias("ui"),
        F.col("cn").alias("cni"),
        F.col("cu").alias("cui"),
    )
    k = c.select(
        F.col("b").alias("k"),
        F.col("cn").alias("cnk"),
        F.col("cu").alias("cuk"),
    )
    a = i.join(k, F.col("i") <= F.col("k")).select(
        "i",
        "k",
        F.expr(
            "(cuk - cui + ui) * 1000000000 div (cnk - cni + ni)"
        ).alias("aq"),
    )
    j = g.select(F.col("b").alias("j"))
    mn = (
        j.join(a, (a.i <= F.col("j")) & (a.k >= F.col("j")))
        .groupBy("j", "i")
        .agg(F.min("aq").alias("m"))
    )
    fit = mn.groupBy("j").agg(F.max("m").cast("long").alias("iso_q9"))
    return (
        g.join(fit, g.b == fit.j)
        .select(
            F.col("b").alias("bin"),
            "n",
            F.col("u").alias("n_hot"),
            F.expr("CAST(u * 1000000000 div n AS BIGINT)").alias(
                "raw_rate_q9"
            ),
            F.col("iso_q9").alias("iso_rate_q9"),
        )
        .orderBy("bin")
    )


q395.__doc__ = q395.__doc__.format(b=ISO_BINS)


# ------------------- weight-of-evidence / information value screening ------
WOE_BINS = 10


@query(
    "q396_woe_information_value",
    oracle=f"""
    WITH o AS (
        SELECT o_totalprice, o_orderkey,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS bad
        FROM orders
    ),
    tiled AS (
        SELECT bad,
               NTILE({WOE_BINS}) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS bin
        FROM o
    ),
    g AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(bad) AS BIGINT) AS nb,
               CAST(COUNT(*) - SUM(bad) AS BIGINT) AS ng
        FROM tiled GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS tb,
                   CAST(SUM(ng) AS BIGINT) AS tg FROM g),
    w AS (
        SELECT bin, n, nb, ng,
               CAST(nb * 1000000 // tb AS BIGINT) AS bad_ppm,
               CAST(ng * 1000000 // tg AS BIGINT) AS good_ppm,
               CASE WHEN nb = 0 OR ng = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor(ln(
                        (CAST(nb AS DOUBLE) / tb) / (CAST(ng AS DOUBLE) / tg)
                    ) * 1000000000 + 0.5) AS BIGINT) END AS woe_q9
        FROM g CROSS JOIN tot
    ),
    ivt AS (
        SELECT CAST(SUM((bad_ppm - good_ppm) * woe_q9 // 1000000)
                    AS BIGINT) AS iv_q9
        FROM w
    )
    SELECT w.bin, w.n, w.nb AS n_bad, w.ng AS n_good,
           w.bad_ppm, w.good_ppm, w.woe_q9, ivt.iv_q9
    FROM w CROSS JOIN ivt
    ORDER BY w.bin
    """,
)
def q396(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-of-evidence / information-value feature screening: order
    value in {b} equi-depth bins against the high-priority target —
    WOE_bin = ln(bad-share / good-share), IV = Σ (bad% − good%)·WOE,
    the credit-risk industry's standard monotonic-encoding and
    feature-power score (IV < 0.02 = useless, > 0.3 = strong). q328's
    mutual information scores dependence on a nominal support; WOE/IV
    is its BINNED-MONOTONE sibling that also yields the encoding
    itself — q303's target encoding without leakage risk because the
    bin grid is fixed. Completes the model-prep chain: q218 mints the
    bins, q395 monotonizes a rate, this scores the feature.

    Cross-engine: binning is exact NTILE (the q218 closed form, no
    partitionless window); shares live on integer ppm grids; the one
    ln() per bin is floor-quantized to 1e-9 BEFORE the IV sum (q328's
    libm discipline — per-term quantization, integer aggregation).
    Scale: one range exchange for the global rank, one hash aggregate
    to {b} bins, everything after bounded."""
    from ..functions.refops import deterministic_id
    from ._util import ntile_from_rank

    o = load_table(spark, sf, "orders").select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("bad"),
    )
    ranked = deterministic_id(
        o, ["o_totalprice", "o_orderkey"], name="rnk", fact_scale=True
    )
    total = ranked.agg(F.count(F.lit(1)).alias("n_tot"))
    g = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            ntile_from_rank(F.col("rnk"), F.col("n_tot"), WOE_BINS).alias(
                "bin"
            ),
            "bad",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("bad").cast("long").alias("nb"),
            (F.count(F.lit(1)) - F.sum("bad")).cast("long").alias("ng"),
        )
    )
    tot = g.agg(
        F.sum("nb").cast("long").alias("tb"),
        F.sum("ng").cast("long").alias("tg"),
    )
    woe = (
        F.when((F.col("nb") == 0) | (F.col("ng") == 0), F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.log(
                    (F.col("nb").cast("double") / F.col("tb"))
                    / (F.col("ng").cast("double") / F.col("tg"))
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long")
        )
    )
    w = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "nb",
            "ng",
            F.expr("CAST(nb * 1000000 div tb AS BIGINT)").alias("bad_ppm"),
            F.expr("CAST(ng * 1000000 div tg AS BIGINT)").alias("good_ppm"),
            woe.alias("woe_q9"),
        )
        .transform(materialize)
    )
    ivt = w.agg(
        F.expr(
            "CAST(SUM((bad_ppm - good_ppm) * woe_q9 div 1000000) AS BIGINT)"
        ).alias("iv_q9")
    )
    return (
        w.crossJoin(F.broadcast(ivt))
        .select(
            "bin",
            "n",
            F.col("nb").alias("n_bad"),
            F.col("ng").alias("n_good"),
            "bad_ppm",
            "good_ppm",
            "woe_q9",
            "iv_q9",
        )
        .orderBy("bin")
    )


q396.__doc__ = q396.__doc__.format(b=WOE_BINS)


# ------------------------------ Lorenz curve (decile points) ---------------
@query(
    "q403_lorenz_curve",
    oracle="""
    WITH r AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    w AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rnk,
               SUM(cents) OVER (ORDER BY cents, o_custkey
                    ROWS UNBOUNDED PRECEDING) AS cum
        FROM r
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS tot FROM r),
    d AS (SELECT unnest(range(1, 11)) AS decile)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST(w.rnk AS BIGINT) AS cum_customers,
           CAST(w.rnk * 1000000 // t.n AS BIGINT) AS pop_ppm,
           CAST(w.cum * 1000000 // t.tot AS BIGINT) AS spend_ppm
    FROM d CROSS JOIN t
    JOIN w ON w.rnk = (d.decile * t.n) // 10
    ORDER BY decile
    """,
)
def q403(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz curve of customer spend at decile points — the CURVE whose
    area q310's Gini collapses to one number: customers sorted by total
    spend ascending, and at each population decile the cumulative spend
    share in exact ppm ("the bottom 50% of customers hold X% of
    revenue" — the concentration statement executives actually quote,
    which a Gini of 0.43 does not convey). q379's HHI reads the TOP of
    the distribution; the Lorenz curve reads its whole shape.

    Scale: one hash aggregate to customer grain, then ONE
    `distributed_cumsum` range exchange mints the global rank AND the
    cumulative spend together (rank_name — two outputs, one exchange,
    and tie placement between them cannot diverge); decile points are
    an equi-join on 10 computed ranks. The oracle's partitionless
    windows are exactly the shape the cumsum replaces."""
    from ..functions.refops import distributed_cumsum

    r = load_table(spark, sf, "orders").groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    w = distributed_cumsum(
        r, ["cents", "o_custkey"], "cents", name="cum", rank_name="rnk"
    )
    t = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    d = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    return (
        d.crossJoin(F.broadcast(t))
        .join(w, F.col("rnk") == F.expr("(decile * n) div 10"))
        .select(
            "decile",
            F.col("rnk").alias("cum_customers"),
            F.expr("CAST(rnk * 1000000 div n AS BIGINT)").alias("pop_ppm"),
            F.expr("CAST(cum * 1000000 div tot AS BIGINT)").alias(
                "spend_ppm"
            ),
        )
        .orderBy("decile")
    )

# --------------------- quantile treatment effects (distributional) ---------
@query(
    "q404_quantile_treatment_effects",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 2 AS grp
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    w AS (
        SELECT grp, cents,
               ROW_NUMBER() OVER (PARTITION BY grp
                    ORDER BY cents, user_id) AS r
        FROM u
    ),
    n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY grp),
    d AS (SELECT unnest(range(1, 10)) AS decile),
    pick AS (
        SELECT d.decile, n.grp, w.cents
        FROM d JOIN n ON TRUE
        JOIN w ON w.grp = n.grp
               AND w.r = (d.decile * n.n + 9) // 10
    )
    SELECT CAST(a.decile AS BIGINT) AS decile,
           a.cents AS q_ctrl_cents, b.cents AS q_treat_cents,
           CAST(b.cents - a.cents AS BIGINT) AS qte_cents
    FROM pick a JOIN pick b ON a.decile = b.decile
    WHERE a.grp = 0 AND b.grp = 1
    ORDER BY decile
    """,
)
def q404(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile treatment effects: the treated-minus-control gap at each
    outcome decile under q401's hash assignment — the DISTRIBUTIONAL
    readout the causal suite lacked: q206's z-score and q348's CUPED
    measure the MEAN shift; QTE shows whether a treatment lifts the
    tail, the median, or just the whales (a zero average with +20% at
    d9 and −20% at d1 is a redistribution, not a null result).
    Quantiles are exact rank selection (percentile_disc semantics,
    rank = ceil(d·n/10) pinned as (d·n+9) div 10), ties to user_id.

    Scale: per-user outcome is one hash aggregate. Per-group ranks do
    NOT use a per-group window (2 groups = 2 hot partitions): ONE
    global `deterministic_id` rank over (grp, cents, user) minus a
    broadcast per-group offset gives the within-group rank from a
    single range exchange — the hot-partition-free construction (the
    oracle's PARTITION BY grp window is the shape it replaces).
    Decile picks are a broadcast equi-join on 18 computed ranks."""
    from ..functions.refops import deterministic_id
    from ..functions.text import h64

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(
            "user_id",
            "cents",
            F.pmod(
                h64(
                    F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))
                ),
                F.lit(2),
            ).alias("grp"),
        )
    )
    ranked = deterministic_id(
        u, ["grp", "cents", "user_id"], name="gr", fact_scale=True
    )
    n = u.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    # per-group offset from the bounded 2-row group table (window over 2 rows)
    off = n.select(
        "grp",
        "ng",
        F.coalesce(
            F.sum("ng").over(
                W.orderBy("grp").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    w = ranked.join(F.broadcast(off), "grp").select(
        "grp", "cents", "ng", (F.col("gr") - F.col("off")).alias("r")
    )
    d = spark.range(1, 10).select(F.col("id").cast("long").alias("decile"))
    pick = w.join(
        F.broadcast(d),
        F.col("r") == F.expr("(decile * ng + 9) div 10"),
    ).select("decile", "grp", "cents")
    a = pick.where(F.col("grp") == 0).select(
        "decile", F.col("cents").alias("q_ctrl_cents")
    )
    b = pick.where(F.col("grp") == 1).select(
        "decile", F.col("cents").alias("q_treat_cents")
    )
    return (
        a.join(b, "decile")
        .select(
            "decile",
            "q_ctrl_cents",
            "q_treat_cents",
            (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
            .cast("long")
            .alias("qte_cents"),
        )
        .orderBy("decile")
    )
