"""Property tests for the training-data batch-2 queries (q237-q243) —
semantics the DuckDB oracle gate can't express: pruning losslessness
against the exhaustive twin, chunk-coverage reconstruction, sampling
determinism under repartitioning, per-cluster keep-exactly-one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_capstone_spark.catalog import load_table
from data_engineer_capstone_spark.operators.dedup import (
    jaccard_prefix_filter_pairs,
    ngram_jaccard_pairs,
)
from data_engineer_capstone_spark.plans.training_data import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    q237,
    q238,
    q239,
)


def test_prefix_filter_equals_inverted_index(spark, sf_dir):
    """The PPJoin prefix prune must be lossless: identical pair set and
    identical quantized Jaccard as the exhaustive inverted-index plan."""
    docs = load_table(spark, sf_dir, "documents")
    full = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    pruned = {(r.doc_a, r.doc_b, r.jaccard) for r in jaccard_prefix_filter_pairs(docs, threshold=0.8).collect()}
    assert pruned == full
    assert full, "corpus should contain at least one near-dup pair"


def test_prefix_filter_indexes_fewer_postings(spark, sf_dir):
    """The point of the prefix filter: the indexed posting list must be a
    strict subset of the full inverted index (≈ (1-t) of it)."""
    docs = load_table(spark, sf_dir, "documents")
    from data_engineer_capstone_spark.functions.text import shingles

    ex = docs.select(F.explode(shingles("text", 3)).alias("s"))
    total = ex.count()
    # replicate the operator's prefix-length arithmetic
    sets = docs.select(F.size(shingles("text", 3)).alias("n")).where(F.col("n") > 0)
    prefix_total = sets.select(
        F.sum(F.col("n") - F.floor((4 * F.col("n") + 4) / 5).cast("long") + 1)
    ).collect()[0][0]
    assert prefix_total < total * 0.4, (prefix_total, total)


def test_chunking_reconstructs_tokens(spark, sf_dir):
    """Keeping each non-final chunk's first STRIDE tokens (its
    non-overlapping core) plus the final chunk whole, in chunk order,
    must reproduce the document's token stream EXACTLY — stride coverage
    with no gaps and no double-counting."""
    out = q237(spark, sf_dir)
    mx = out.groupBy("doc_id").agg(F.max("chunk_idx").alias("mx"))
    rebuilt = (
        out.join(mx, "doc_id")
        .withColumn("toks", F.split("chunk_text", " "))
        .withColumn(
            "kept",
            F.when(F.col("chunk_idx") < F.col("mx"), F.slice("toks", 1, CHUNK_STRIDE))
            .otherwise(F.col("toks")),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.flatten(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "kept")))["kept"]
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_join(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0), " "
            ).alias("orig"),
        )
        .where(F.length("orig") > 0)  # zero-token docs produce no chunks
    )
    n_docs = docs.count()
    joined = rebuilt.join(docs, "doc_id")
    assert joined.count() == n_docs  # every tokenizable doc was chunked
    assert joined.where(F.col("rebuilt") != F.col("orig")).count() == 0


def test_weighted_sample_partitioning_invariant(spark, sf_dir):
    """A-ES selection is a pure function of the data, not of physical
    layout: repartitioning the input must not change the sample."""
    base = {r.o_orderkey for r in q239(spark, sf_dir).collect()}

    from data_engineer_capstone_spark.plans import training_data as td

    orig = td.load_table

    def scrambled(s, sf, name):
        df = orig(s, sf, name)
        return df.repartition(7) if name == "orders" else df

    td.load_table = scrambled
    try:
        again = {r.o_orderkey for r in td.q239(spark, sf_dir).collect()}
    finally:
        td.load_table = orig
    assert again == base


def test_weighted_sample_prefers_heavy_rows(spark, sf_dir):
    """Sanity on the weighting: the sampled orders' mean total price must
    exceed the population mean (P(select) grows with weight)."""
    sample_avg = q239(spark, sf_dir).agg(F.avg("weight")).collect()[0][0]
    pop_avg = (
        load_table(spark, sf_dir, "orders").agg(F.avg("o_totalprice")).collect()[0][0]
    )
    assert sample_avg > pop_avg


def test_distributed_cumsum_matches_global_window(spark, sf_dir):
    """The range-partitioned prefix sum must equal the single-partition
    window it replaces, including the optional rank."""
    from pyspark.sql import Window as W

    from data_engineer_capstone_spark.functions.refops import distributed_cumsum

    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .limit(2000)
    )
    got = distributed_cumsum(o, ["o_orderkey"], "cents", name="cum", rank_name="rnk")
    w = W.orderBy("o_orderkey")
    want = o.withColumn(
        "cum", F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("rnk", F.row_number().over(w).cast("long"))
    assert (
        got.select("o_orderkey", "cum", "rnk")
        .exceptAll(want.select("o_orderkey", "cum", "rnk"))
        .isEmpty()
    )
    assert got.count() == want.count()


def test_vocab_coverage_monotone(spark, sf_dir):
    from data_engineer_capstone_spark.plans.training_data import q244

    rows = q244(spark, sf_dir).collect()
    assert 0 < len(rows) <= 200  # synthetic corpus vocab is small (~31 types)
    cov = [r.coverage_q for r in rows]
    assert cov == sorted(cov)  # cumulative share never decreases
    assert cov[-1] <= 1000000
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)  # rank order is by frequency


def test_embedding_quantize_error_bound(spark, sf_dir):
    """Symmetric int8 quantization: |x - code·scale| ≤ scale/2 per element
    — verified via the emitted max_err against the emitted scale."""
    from data_engineer_capstone_spark.plans.training_data import q245

    out = q245(spark, sf_dir)
    # max_err_q and scale_q share the 1e-9 quantum: err ≤ scale/2 (+1 ulp
    # of quantization slack on each side)
    bad = out.where(F.col("max_err_q") > F.col("scale_q") / 2 + 1).count()
    assert bad == 0
    assert out.where(F.col("scale_q") < 0).count() == 0


def test_winsorize_clip_fractions(spark, sf_dir):
    """Discrete P1/P99 cuts: at most 1% of rows clip on each side, and the
    winsorized sum is bounded by n·lo .. n·hi."""
    from data_engineer_capstone_spark.plans.training_data import q247

    r = q247(spark, sf_dir).collect()[0]
    assert r.lo_cents <= r.hi_cents
    assert r.n_clip_lo < r.n * 0.01
    assert r.n_clip_hi <= r.n * 0.01
    assert r.n * r.lo_cents <= r.wins_sum_cents <= r.n * r.hi_cents


def test_column_profile_invariants(spark, sf_dir):
    from data_engineer_capstone_spark.plans.training_data import q246

    rows = {r.col_name: r for r in q246(spark, sf_dir).collect()}
    n = load_table(spark, sf_dir, "orders").count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    for r in rows.values():
        assert 0 <= r.n_nulls <= n
        assert 1 <= r.n_distinct <= n - r.n_nulls
        assert r.min_v <= r.max_v or r.col_name in ("o_orderkey", "o_custkey",
                                                    "o_totalprice")
    assert rows["o_orderkey"].n_distinct == n  # primary key


def test_bpe_merge_step_shape(spark, sf_dir):
    """BPE merge candidates: single-char symbols, ranked by weighted count
    nonincreasing, and the top pair's count matches a direct recount."""
    from data_engineer_capstone_spark.plans.training_data import q248

    rows = q248(spark, sf_dir).collect()
    assert rows
    assert all(len(r.left_sym) == 1 and len(r.right_sym) == 1 for r in rows)
    totals = [r.total for r in rows]
    assert totals == sorted(totals, reverse=True)
    # recount one winning pair straight off the corpus token stream; use a
    # pair with distinct symbols so regex matches can't overlap (in "aaa"
    # the pair (a,a) occurs twice but the regex finds one non-overlapping)
    top = next(r for r in rows if r.left_sym != r.right_sym)
    docs = load_table(spark, sf_dir, "documents")
    from data_engineer_capstone_spark.functions.text import words

    direct = (
        docs.select(F.explode(words("text")).alias("w"))
        .select(F.size(F.regexp_extract_all("w", F.lit(top.left_sym + top.right_sym), 0)).alias("k"))
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert direct == top.total


def test_winsorize_approx_twin_close_to_exact(spark, sf_dir):
    """q249 (approx_percentile cuts) must agree with q247 (exact discrete
    cuts) within the sketch's rank-error bound: accuracy 10000 ⇒ the cut
    value sits within n/10000 ranks of the exact one, so clip fractions
    differ by at most that, and the winsorized sum moves by at most the
    rank slack times the cut spread."""
    from data_engineer_capstone_spark.plans.training_data import q247, q249

    exact = q247(spark, sf_dir).collect()[0]
    approx = q249(spark, sf_dir).collect()[0]
    assert approx.n == exact.n
    slack = int(exact.n / 10000) + 1
    assert abs(approx.n_clip_lo - exact.n_clip_lo) <= 2 * slack
    assert abs(approx.n_clip_hi - exact.n_clip_hi) <= 2 * slack
    # real two-sided bound on each cut: the approx cut value must lie
    # between the exact cent values at ranks (target ± rank slack) — the
    # GK sketch's actual guarantee. (The earlier `exact.lo <= approx.lo OR
    # approx.lo <= exact.hi` form was tautological: it could only fail if
    # approx.lo were simultaneously above exact.hi and below exact.lo.)
    import duckdb

    con = duckdb.connect()
    cents = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c "
            f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY c"
        ).fetchall()
    ]
    n = len(cents)
    assert n == exact.n
    for target_rank, cut in (
        ((1 * n + 99) // 100, approx.lo_cents),
        ((99 * n + 99) // 100, approx.hi_cents),
    ):
        lo_bound = cents[max(1, target_rank - slack) - 1]
        hi_bound = cents[min(n, target_rank + slack) - 1]
        assert lo_bound <= cut <= hi_bound, (target_rank, lo_bound, cut, hi_bound)
    # the clipped sums agree to within the moved mass at the tails
    spread = exact.hi_cents - exact.lo_cents
    assert abs(approx.wins_sum_cents - exact.wins_sum_cents) <= 4 * slack * spread


def _cn_frames(spark, edge_list, k, degree_cap=None):
    """``common_neighbor_topk`` and its reference ``common_neighbor_counts
    (...).orderBy(common desc, a, b).limit(k)`` over one edge list, as row
    lists, plus whether the broadcast-CSR kernel ran."""
    from data_engineer_capstone_spark.plans.training_data import (
        common_neighbor_counts,
        common_neighbor_topk,
    )

    edges = spark.createDataFrame(edge_list, "a long, b long")
    got = common_neighbor_topk(edges, k, degree_cap)
    ran_kernel = "MapInPandas" in got._jdf.queryExecution().executedPlan().toString()
    want = (
        common_neighbor_counts(edges, degree_cap)
        .orderBy(F.desc("common"), "a", "b")
        .limit(k)
    )
    rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    return rows(got), rows(want), ran_kernel


def _force_fallback(monkeypatch):
    """Price an edge row over the whole broadcast budget: no edge list
    fits, so ``common_neighbor_topk`` takes the shuffled plan."""
    from data_engineer_capstone_spark.plans import training_data as T
    from data_engineer_capstone_spark.sizing import BROADCAST_BYTES

    monkeypatch.setattr(T, "CN_EDGE_BYTES", BROADCAST_BYTES + 1)


HUB_GRAPH = [(0, i) for i in range(1, 61)] + [  # hub 0, spokes 1..60
    (100, 101), (100, 102), (101, 102), (101, 103)  # small clique + tail
]


@pytest.mark.parametrize("path", ["kernel", "fallback"])
def test_common_neighbor_degree_cap_drops_only_hub_wedges(spark, monkeypatch, path):
    """Crafted hub graph: a star center with 60 spokes plus a small clique.
    Capped at 50, the hub stops generating wedges (its spoke pairs vanish)
    while every wedge centered on a normal node survives unchanged — on
    the broadcast-CSR kernel and on the shuffled fallback alike."""
    from data_engineer_capstone_spark.plans.training_data import common_neighbor_topk

    if path == "fallback":
        _force_fallback(monkeypatch)
    edges = spark.createDataFrame(HUB_GRAPH, ["a", "b"])

    def counts(cap):
        out = common_neighbor_topk(edges, 10_000, cap)
        return {(r.a, r.b): r.common for r in out.collect()}

    full, capped = counts(None), counts(50)
    # hub-centered wedges (spoke-spoke pairs) exist only uncapped
    assert (1, 2) in full and (1, 2) not in capped
    # wedges centered on normal nodes are untouched: 102-103 via center 101
    assert full[(102, 103)] == capped[(102, 103)] == 1
    # and nothing capped is new
    assert set(capped) <= set(full)


def _tie_graph():
    """40 disjoint 4-cycles s–c–t–d, each giving two pairs of count 2
    ((s, t) and (c, d)), plus three K(2,3) pairs of count 3 at the top
    of the key range: with k = 5 the count-2 ties straddle rank k, and
    their winners sit in the first task while the count-3 pairs sit in
    the last one."""
    edges = []
    for i in range(40):
        s, c, t, d = 10 * i, 10 * i + 1, 10 * i + 2, 10 * i + 3
        edges += [(s, c), (s, d), (c, t), (t, d)]
    for j in range(3):
        u, v = 1000 + 10 * j, 1001 + 10 * j
        edges += [(u, w) for w in (1002 + 10 * j, 1003 + 10 * j, 1004 + 10 * j)]
        edges += [(v, w) for w in (1002 + 10 * j, 1003 + 10 * j, 1004 + 10 * j)]
    return edges


@pytest.mark.parametrize(
    "edge_list,k,expect",
    [
        ([], 25, []),  # empty edge list: no rows, no error
        ([(1, 2)], 25, []),  # single edge: no wedges
        ([(a, b) for a in range(6) for b in range(a + 1, 6)], 25, []),  # clique
        # every pair has one common neighbour; the lowest keys win
        (HUB_GRAPH, 25, [(1, b, 1) for b in range(2, 27)]),
        (_tie_graph(), 5, [(1000, 1001, 3), (1010, 1011, 3), (1020, 1021, 3),
                           (0, 2, 2), (1, 3, 2)]),
    ],
    ids=["empty", "single_edge", "clique", "hub", "ties_across_tasks"],
)
def test_common_neighbor_topk_kernel_equals_shuffled_plan(
    spark, monkeypatch, edge_list, k, expect
):
    """The broadcast-CSR kernel returns exactly the shuffled wedge plan's
    ordered top k (common desc, a, b) on degenerate and tie-heavy graphs,
    with blocks and tasks sized down so even these graphs spread over
    every task."""
    from data_engineer_capstone_spark.plans import training_data as T

    monkeypatch.setattr(T, "CN_TASK_WEDGES", 1)
    monkeypatch.setattr(T, "CN_BLOCK_WEDGES", 8)
    got, want, ran_kernel = _cn_frames(spark, edge_list, k)
    assert ran_kernel
    assert got == want == expect


def test_common_neighbor_topk_fallback_over_budget(spark, monkeypatch):
    """An edge list over the broadcast budget takes the shuffled plan,
    which gives the kernel's answer."""
    kernel, want, ran_kernel = _cn_frames(spark, HUB_GRAPH, 25, degree_cap=50)
    _force_fallback(monkeypatch)
    fallback, _, ran_fallback = _cn_frames(spark, HUB_GRAPH, 25, degree_cap=50)
    assert ran_kernel and not ran_fallback
    assert kernel == fallback == want


def _brute_cn(edges, k, cap):
    """Python reference: wedge counts per pair, adjacency removed."""
    from collections import Counter, defaultdict

    nb = defaultdict(list)
    for a, b in edges:
        nb[a].append(b)
        nb[b].append(a)
    cn = Counter(
        (x, y)
        for ns in nb.values() if cap is None or len(ns) <= cap
        for x in ns for y in ns if x < y
    )
    adj = set(edges)
    return sorted(
        ((a, b, c) for (a, b), c in cn.items() if (a, b) not in adj),
        key=lambda r: (-r[2], r[0], r[1]),
    )[:k]


@pytest.mark.parametrize("dense", [0, 10**9], ids=["sparse", "dense"])
def test_common_neighbor_kernel_blocks_match_brute_force(monkeypatch, dense):
    """Driver CSR + executor kernel without Spark, against a Python wedge
    count: both counting modes, many block cuts, shuffled block order
    split over two batches, and multi-edges (a repeated edge multiplies
    its wedges, as the shuffled plan's self-join does)."""
    import random
    import types

    import numpy as np
    import pandas as pd

    from data_engineer_capstone_spark.plans import training_data as T

    monkeypatch.setattr(T, "CN_DENSE", dense)
    rng = random.Random(7)
    for _ in range(60):
        nn = rng.randint(1, 14)
        pairs = [(3 * a, 3 * b) for a in range(nn) for b in range(a + 1, nn)]
        edges = rng.sample(pairs, rng.randint(0, len(pairs)))
        if edges and rng.random() < 0.3:
            edges += rng.sample(edges, rng.randint(1, len(edges)))
        k, cap = rng.randint(1, 6), rng.choice([None, 1, 3])
        monkeypatch.setattr(T, "CN_BLOCK_WEDGES", rng.choice([1, 3, 40]))
        csr, _ = T._cn_csr(
            np.array([e[0] for e in edges], np.int64),
            np.array([e[1] for e in edges], np.int64),
            cap,
            4,
        )
        ids = list(range(len(csr[-1]) - 1))
        rng.shuffle(ids)
        task = T._cn_task(types.SimpleNamespace(value=csr), k)
        half = len(ids) // 2
        out = pd.concat(task(iter([pd.DataFrame({"id": ids[:half]}),
                                   pd.DataFrame({"id": ids[half:]})])))
        got = sorted(zip(out.a, out.b, out.common), key=lambda r: (-r[2], r[0], r[1]))
        assert got[:k] == _brute_cn(edges, k, cap), (edges, k, cap)


def test_kmeans_update_step_shape(spark, sf_dir):
    """The centroid update must emit one full dim-vector per surviving
    cluster, with every centroid inside the corpus value range."""
    from data_engineer_capstone_spark.plans.training_data import q250

    out = q250(spark, sf_dir).cache()
    per_cluster = out.groupBy("new_label").agg(F.count(F.lit(1)).alias("dims"))
    assert per_cluster.where(F.col("dims") != 64).count() == 0
    emb = load_table(spark, sf_dir, "embeddings")
    lohi = emb.select(
        F.explode(F.col("embedding").cast("array<double>")).alias("x")
    ).agg(F.min("x").alias("lo"), F.max("x").alias("hi")).collect()[0]
    bad = out.where(
        (F.col("centroid") < lohi.lo - 1e-6) | (F.col("centroid") > lohi.hi + 1e-6)
    ).count()
    assert bad == 0
    out.unpersist()


def test_grouped_weighted_sample_per_stratum(spark, sf_dir):
    """Exactly k rows per stratum (every priority group is larger than k),
    and each stratum's sample skews toward heavy weights."""
    from data_engineer_capstone_spark.plans.training_data import q251

    out = q251(spark, sf_dir).cache()
    sizes = {r.o_orderpriority: r.n for r in
             out.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes and all(n == 20 for n in sizes.values())
    pop = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("pop_avg"))
    )
    biased = (
        out.groupBy("o_orderpriority").agg(F.avg("weight").alias("s_avg"))
        .join(pop, "o_orderpriority")
        .where(F.col("s_avg") <= F.col("pop_avg"))
        .count()
    )
    assert biased == 0
    out.unpersist()


def test_exact_auc_matches_pairwise_definition(spark, sf_dir):
    """The rank-sum AUC must equal the O(n²) pairwise definition
    (P(score_pos > score_neg) + ½·P(tie)) computed directly on the
    collected rows — the independent oracle-of-the-oracle."""
    from data_engineer_capstone_spark.plans.training_data import q252

    r = q252(spark, sf_dir).collect()[0]
    assert r.n == r.n_pos + r.n_neg
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.floor(F.element_at("embedding", 1).cast("double") * 1e9 + F.lit(0.5))
            .cast("long")
            .alias("s"),
            (F.col("label") < 5).cast("int").alias("pos"),
        )
        .collect()
    )
    pos = sorted(x.s for x in rows if x.pos)
    neg = sorted(x.s for x in rows if not x.pos)
    import bisect

    wins = halves = 0
    for p in pos:
        lo = bisect.bisect_left(neg, p)
        hi = bisect.bisect_right(neg, p)
        wins += lo
        halves += hi - lo
    auc = (wins + halves / 2) / (len(pos) * len(neg))
    assert abs(r.auc_q - round(auc * 1e6)) <= 1


def test_keep_best_exactly_one_per_cluster(spark, sf_dir):
    out = q238(spark, sf_dir).cache()
    per_cluster = out.groupBy("canonical_id").agg(
        F.sum("keep").alias("kept"), F.max("q_votes").alias("best"),
    )
    assert per_cluster.where(F.col("kept") != 1).count() == 0
    # the kept doc carries the cluster-max vote count
    kept = out.where(F.col("keep") == 1).select("canonical_id", "q_votes")
    mism = kept.join(per_cluster, "canonical_id").where(
        F.col("q_votes") != F.col("best")
    )
    assert mism.count() == 0
    out.unpersist()


def test_leakage_safe_split_zero_straddle(spark, sf_dir):
    """q268's whole point: no near-dup cluster may straddle two splits
    (asserted structurally over the actual assignment), and the split is
    a pure function of the canonical id (re-run gives identical rows)."""
    from data_engineer_capstone_spark.plans.extensions import q268

    df = q268(spark, sf_dir)
    import pyspark.sql.functions as F

    straddle = (
        df.groupBy("canonical_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
    )
    assert straddle.isEmpty()
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in q268(spark, sf_dir).collect()}
    assert a == b


def test_weighted_median_reduces_to_plain_median(spark):
    """With all weights 1, the weighted median must equal the discrete
    lower median (value at rank ceil(n/2)) — computed directly here."""
    from data_engineer_capstone_spark.functions.refops import distributed_cumsum

    vals = [5, 1, 9, 3, 7, 3, 8, 2, 6, 4, 11]  # n=11 -> rank 6 -> value 5
    df = spark.createDataFrame([(v, 1) for v in vals], ["cents", "w"])
    g = df.groupBy("cents").agg(F.sum("w").cast("long").alias("w"))
    c = distributed_cumsum(g, ["cents"], "w", name="cum")
    total = sum(1 for _ in vals)
    got = (
        c.where(F.col("cum") >= (total + 1) // 2)
        .agg(F.min("cents"))
        .collect()[0][0]
    )
    assert got == sorted(vals)[(total + 1) // 2 - 1]


def test_linear_interpolation_recovers_linear_series(spark):
    """If the masked series is exactly linear in time, interpolation must
    reproduce the hidden values to the quantization unit."""
    import datetime

    from data_engineer_capstone_spark.plans import windows as wmod

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(30):  # value = 10 + 2.5 * i, one reading per minute
        rows.append(
            (i, base + datetime.timedelta(minutes=i), 1, "view", 10.0 + 2.5 * i, "{}")
        )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )

    orig = wmod.load_table
    wmod.load_table = lambda s, sf, name: df
    try:
        out = {r.event_id: r.interp_q for r in wmod.q272(spark, "ignored").collect()}
    finally:
        wmod.load_table = orig
    # masked ids: multiples of 7 with both neighbors present (drop id 0)
    expect = {
        i: round((10.0 + 2.5 * i) * 100) * 10000
        for i in range(1, 30)
        if i % 7 == 0
    }
    assert out == expect


def test_domain_minhash_estimates_track_exact_jaccard(spark):
    """q290's signature-agreement estimate must track q278's exact
    vocabulary Jaccard within MinHash sampling error: with 32
    permutations the standard error is sqrt(J(1-J)/32) <= 0.089, so a
    0.36 (4-sigma) per-pair bound and a 0.08 mean-absolute-error bound
    hold with huge margin unless the family is broken."""
    from data_engineer_capstone_spark.plans import training_data as td

    sf = "/root/testdata/sf0.01"
    exact = {
        (r.source_a, r.source_b): r.jaccard
        for r in td.q278(spark, sf).collect()
    }
    est = {
        (r.source_a, r.source_b): r.est_jaccard_q / 1e6
        for r in td.q290(spark, sf).collect()
    }
    assert set(exact) == set(est)
    errs = [abs(est[k] - exact[k]) for k in exact]
    assert max(errs) <= 0.36, max(errs)
    assert sum(errs) / len(errs) <= 0.08, sum(errs) / len(errs)


def test_power_iteration_increases_rayleigh_and_alignment(spark):
    """Power-iteration invariants on the PSD gram matrix (independent
    numpy cross-check): each step must not decrease the Rayleigh
    quotient (a theorem for PSD matrices; small tolerance absorbs the
    integer re-quantization between steps), and alignment with the true
    top eigenvector must not degrade."""
    import numpy as np

    from data_engineer_capstone_spark.plans import training_data as td

    sf = "/root/testdata/sf0.01"
    cells = td.q279(spark, sf).collect()
    d = max(r.j for r in cells)
    G = np.zeros((d, d))
    for r in cells:
        G[r.i - 1, r.j - 1] = r.gram
        G[r.j - 1, r.i - 1] = r.gram
    e1 = np.linalg.eigh(G)[1][:, -1]

    def rq(x):
        return (x @ G @ x) / (x @ x)

    def cos(a, b):
        return abs(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    ones = np.ones(d)
    w1 = G @ ones  # the pre-quantization first iterate
    out = sorted(td.q282(spark, sf).collect(), key=lambda r: r.i)
    v2 = np.array([r.eig_q for r in out], float)
    assert rq(w1) >= rq(ones) * (1 - 1e-9)
    assert rq(v2) >= rq(w1) * (1 - 1e-3)  # quantization tolerance
    assert cos(v2, e1) >= cos(w1, e1) - 1e-3
    # w2 column must be the exact integer matvec of the quantized iterate
    m1 = np.max(np.abs(w1))
    v1q = np.floor(w1 / m1 * td.EIG_VQ + 0.5)
    w2 = np.array([r.w2 for r in out], float)
    assert np.array_equal(w2, G @ v1q)


def test_boilerplate_strip_conserves_and_orders_words(spark):
    """q280 invariants: cleaned text is a SUBSEQUENCE of the original
    word stream (strip never reorders or invents words), n_removed
    accounts exactly for the dropped positions, untouched docs pass
    through verbatim, and the corpus actually exercises the removal
    path."""
    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.functions.text import words
    from data_engineer_capstone_spark.plans import extensions as ext

    sf = "/root/testdata/sf0.01"
    spark_df = ext.q280(spark, sf)
    orig = {
        r.doc_id: r.ws
        for r in load_table(spark, sf, "documents")
        .select("doc_id", words("text").alias("ws"))
        .collect()
    }
    removed_total = 0
    for r in spark_df.collect():
        ws = orig[r.doc_id]
        clean = r.clean_text.split() if r.clean_text else []
        assert r.n_words == len(ws)
        assert r.n_removed == len(ws) - len(clean)
        removed_total += r.n_removed
        it = iter(ws)
        assert all(w in it for w in clean), f"not a subsequence: doc {r.doc_id}"
        if r.n_removed == 0:
            assert clean == ws
    assert removed_total > 0


def test_grouped_ols_matches_numpy_lstsq(spark):
    """q291's closed-form per-group betas must equal numpy's independent
    least-squares solution on the same quantized design matrix (to the
    output quantization unit)."""
    import numpy as np

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.plans import aggregation as agg
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    rows = (
        load_table(spark, sf, "events")
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("x1"),
            F.dayofmonth("ts").cast("long").alias("x2"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
        )
        .collect()
    )
    got = {r.event_type: r for r in agg.q291(spark, sf).collect()}
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.event_type, []).append((r.x1, r.x2, r.y))
    assert set(by_grp) == set(got)
    for grp, pts in by_grp.items():
        X = np.array([[1.0, x1, x2] for x1, x2, _ in pts])
        y = np.array([float(v) for _, _, v in pts])
        beta = np.linalg.lstsq(X, y, rcond=None)[0]
        g = got[grp]
        assert g.n == len(pts)
        for ref, val in zip(beta, (g.beta0_q, g.beta1_q, g.beta2_q)):
            assert abs(val / 1e6 - ref) < 2e-6, (grp, ref, val)


def test_clamped_balance_clamp_engages_and_diverges_from_prefix_sum(spark):
    """q300 sanity: outputs are never negative, the zero clamp actually
    fires on this corpus (some user's plain prefix sum goes negative),
    and wherever it fired the clamped balance exceeds the plain sum."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.plans import udf_surface as us

    sf = "/root/testdata/sf0.01"
    out = {(r.user_id, r.event_id): r.balance_cents
           for r in us.q300(spark, sf).collect()}
    assert all(v >= 0 for v in out.values())
    rows = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect()
    )
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    clamp_fired = 0
    for uid, evs in by_user.items():
        plain = 0
        for r in evs:
            cents = int(r.value * 100 + 0.5) if r.value >= 0 else None
            assert cents is not None
            plain += cents if r.event_type == "purchase" else -cents
            if plain < 0:
                clamp_fired += 1
                assert out[(uid, r.event_id)] > plain
    assert clamp_fired > 0, "corpus never exercised the clamp"
