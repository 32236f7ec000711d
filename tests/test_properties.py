"""Property-based tests (SURVEY.md §5): invariants the oracle queries
can't state, checked over generated inputs with hypothesis.

Spark jobs per example are expensive, so example counts are small and
each property batches its generated cases into ONE DataFrame where
possible.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineer_capstone_spark.functions.refops import (
    conform_schema,
    deterministic_id,
    sas_epoch_to_date,
    union_align,
)
from data_engineer_capstone_spark.functions.text import shingles

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

EPOCH = datetime.date(1960, 1, 1)


@settings(**SETTINGS)
@given(st.lists(st.none() | st.integers(-30_000, 30_000), min_size=1, max_size=50))
def test_sas_epoch_round_trip(spark, days):
    """days -> date -> days is identity on coalesce(n, 0) over ±30k days
    (UA2 semantics: null maps to the 1960-01-01 default, README.md:102)."""
    df = spark.createDataFrame([(d,) for d in days], "n int")
    out = df.select(
        "n", F.datediff(sas_epoch_to_date("n"), F.lit(EPOCH)).alias("back")
    ).collect()
    for r in out:
        assert r.back == (r.n or 0)


@settings(**SETTINGS)
@given(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=4, unique=True),
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=4, unique=True),
)
def test_union_align_never_misaligns(spark, cols1, cols2):
    """union_align keeps values under their own column NAMES (the
    reference's positional union misaligned df2's columns), fills missing
    columns with null, and emits first-seen column order."""
    d1 = spark.createDataFrame([tuple(f"1{c}" for c in cols1)], ", ".join(f"{c} string" for c in cols1))
    d2 = spark.createDataFrame([tuple(f"2{c}" for c in cols2)], ", ".join(f"{c} string" for c in cols2))
    out = union_align([d1, d2])
    assert out.columns == cols1 + [c for c in cols2 if c not in cols1]
    r1, r2 = out.collect()
    for c in out.columns:
        assert r1[c] == (f"1{c}" if c in cols1 else None)
        assert r2[c] == (f"2{c}" if c in cols2 else None)


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 3), st.sampled_from("xy")), min_size=1, max_size=30))
def test_dedup_idempotent_and_minimal(spark, rows):
    """dropDuplicates is idempotent and produces exactly the distinct set."""
    df = spark.createDataFrame(rows, "k int, v string")
    once = df.dropDuplicates()
    assert once.count() == len(set(rows))
    assert sorted(map(tuple, once.dropDuplicates().collect())) == sorted(
        map(tuple, once.collect())
    )


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 100), st.integers(0, 100)), min_size=1, max_size=40, unique=True))
def test_deterministic_id_stable_under_row_order(spark, rows):
    """ids are 1..n, unique, and a permutation of the input rows yields the
    SAME natural-key -> id mapping (the property monotonically_increasing_id
    lacks, SURVEY §7.1)."""
    df = spark.createDataFrame(rows, "a int, b int")
    ids1 = {(r.a, r.b): r.id for r in deterministic_id(df, ["a", "b"]).collect()}
    shuffled = df.orderBy(F.rand(seed=7))
    ids2 = {(r.a, r.b): r.id for r in deterministic_id(shuffled, ["a", "b"]).collect()}
    assert ids1 == ids2
    assert sorted(ids1.values()) == list(range(1, len(rows) + 1))


@settings(**SETTINGS)
@given(st.lists(st.integers(-1000, 1000) | st.none(), min_size=1, max_size=20))
def test_conform_schema_idempotent(spark, vals):
    """conform twice == conform once; declared types enforced even from
    all-string input (the reference's widening bug class, SURVEY §1.2)."""
    schema = T.StructType([T.StructField("x", T.IntegerType(), True)])
    df = spark.createDataFrame([(str(v) if v is not None else None,) for v in vals], "x string")
    once = conform_schema(df, schema)
    twice = conform_schema(once, schema)
    assert once.schema == twice.schema == schema
    assert [r.x for r in once.collect()] == [r.x for r in twice.collect()] == vals


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=20,
        unique=True,
    )
)
def test_connected_components_vs_union_find(spark, edge_list):
    """Label propagation agrees with a driver-side union-find on random
    graphs over 15 vertices (including edgeless and multi-component)."""
    from data_engineer_capstone_spark.operators.dedup import connected_components

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    expected = {v: min(u for u in range(15) if find(u) == find(v)) for v in range(15)}

    vertices = spark.createDataFrame([(v,) for v in range(15)], "doc_id int")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "doc_a int, doc_b int"
    )
    if not edge_list:
        edges = edges.limit(0)
    labels = {r.id: r.label for r in
              connected_components(edges, vertices, id_col="doc_id").collect()}
    assert labels == expected


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda e: e[0] < e[1]),
        min_size=0,
        max_size=30,
        unique=True,
    ),
    st.integers(1, 8),
    st.none() | st.integers(1, 4),
)
def test_common_neighbor_topk_kernel_vs_shuffled_plan(
    spark, monkeypatch, edge_list, k, degree_cap
):
    """The broadcast-CSR common-neighbour kernel returns exactly the
    shuffled wedge plan's top k (common desc, a, b) on random graphs over
    12 nodes, with and without a degree cap; tiny block and task budgets
    spread each graph over several tasks."""
    from data_engineer_capstone_spark.plans import training_data as T
    from data_engineer_capstone_spark.plans.training_data import (
        common_neighbor_counts,
        common_neighbor_topk,
    )

    monkeypatch.setattr(T, "CN_TASK_WEDGES", 4)
    monkeypatch.setattr(T, "CN_BLOCK_WEDGES", 2)

    edges = spark.createDataFrame(edge_list, "a long, b long")
    want = (
        common_neighbor_counts(edges, degree_cap)
        .orderBy(F.desc("common"), "a", "b")
        .limit(k)
    )
    got = common_neighbor_topk(edges, k, degree_cap)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


@settings(**SETTINGS)
@given(st.lists(st.sampled_from("abc"), min_size=0, max_size=12))
def test_shingles_count_and_short_doc_guard(spark, toks):
    """k-shingling emits exactly max(0, n-k+1) grams pre-dedup and the
    distinct set is a subset; docs shorter than k emit [] (not the
    descending-sequence artifact of naive F.sequence)."""
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        F.size(shingles("t", k=3, distinct=False)).alias("all_n"),
        F.size(shingles("t", k=3)).alias("d_n"),
    ).collect()[0]
    assert row.all_n == max(0, len(toks) - 2)
    assert 0 <= row.d_n <= row.all_n


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=20,
        unique=True,
    )
)
def test_star_components_vs_union_find(spark, edge_list):
    """Large-star/small-star agrees with driver-side union-find on random
    graphs (same contract as the label-propagation property test)."""
    from data_engineer_capstone_spark.operators.dedup import connected_components_star

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    expected = {v: min(u for u in range(15) if find(u) == find(v)) for v in range(15)}

    vertices = spark.createDataFrame([(v,) for v in range(15)], "doc_id int")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "doc_a int, doc_b int")
    if not edge_list:
        edges = edges.limit(0)
    labels = {r.id: r.label for r in
              connected_components_star(edges, vertices, id_col="doc_id").collect()}
    assert labels == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-10**6, 10**6)),
        min_size=1,
        max_size=60,
    ),
    n_salts=st.sampled_from([1, 4, 16]),
)
def test_salted_sum_equals_plain_sum(spark, rows, n_salts):
    """Salting must be algebraically invisible for exact-typed sums."""
    from data_engineer_capstone_spark.operators.skew import salted_sum

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k string, v long"
    )
    got = {
        r.k: r.s
        for r in salted_sum(
            df, ["k"], F.col("v"), F.col("id"), "s", n_salts=n_salts
        ).collect()
    }
    want: dict[str, int] = {}
    for k, v in rows:
        want[k] = want.get(k, 0) + v
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-100, 100)), min_size=1, max_size=40
    )
)
def test_fused_row_checks_match_python(spark, vals):
    """The single-scan fused counters must equal a per-check recompute."""
    from data_engineer_capstone_spark.operators.quality import (
        fused_row_checks,
        quality_report,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x int")
    rep = quality_report(
        [
            fused_row_checks(
                df,
                {
                    "x_nonnull": F.col("x").isNull(),
                    "x_in_range": (F.col("x") < -50) | (F.col("x") > 50),
                },
            )
        ]
    ).collect()
    got = {r.check_name: r.violations for r in rep}
    assert got["x_nonnull"] == sum(1 for v in vals if v is None)
    # SQL comparison with NULL is not a violation hit (three-valued logic)
    assert got["x_in_range"] == sum(
        1 for v in vals if v is not None and (v < -50 or v > 50)
    )


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1, max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 999)),
        min_size=0, max_size=25,
    ),
    st.sampled_from([None, 0, 5, 20]),
    st.sampled_from(["backward", "forward"]),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows, tol, direction):
    """asof_join must agree with pandas.merge_asof (by='key',
    allow_exact_matches=True, same tolerance/direction) on arbitrary
    integer timelines — the independent reference implementation for the
    union-timeline window construction, including the tolerance null-out.

    merge_asof requires unique sort keys per side for an unambiguous
    match, so (key, ts) pairs are deduplicated keeping the LAST value —
    matching asof_join's last-wins-within-frame tie behavior for backward
    (first-wins for forward, via keep='first')."""
    import pandas as pd

    from data_engineer_capstone_spark.operators.asof import asof_join

    lpdf = (
        pd.DataFrame(left_rows, columns=["key", "ts"])
        .astype("int64")
        .drop_duplicates()
        .sort_values(["ts", "key"], kind="stable")
        .reset_index(drop=True)
    )
    keep = "last" if direction == "backward" else "first"
    rpdf = (
        pd.DataFrame(right_rows, columns=["key", "ts", "v"])
        .astype("int64")
        .drop_duplicates(subset=["key", "ts"], keep=keep)
        .sort_values(["ts", "key"], kind="stable")
        .reset_index(drop=True)
    )
    expected = pd.merge_asof(
        lpdf, rpdf, on="ts", by="key", direction=direction,
        tolerance=tol, allow_exact_matches=True,
    )
    exp = {
        (r.key, r.ts): (None if pd.isna(r.v) else int(r.v))
        for r in expected.itertuples()
    }
    ldf = spark.createDataFrame(lpdf, "key long, ts long").dropDuplicates()
    rdf = spark.createDataFrame(rpdf, "key long, ts long, v long")
    got_rows = asof_join(
        ldf, rdf, on="key", value_cols=["v"],
        direction=direction, tolerance=tol,
    ).collect()
    got = {(r["key"], r["ts"]): r["v_asof"] for r in got_rows}
    assert got == exp


@settings(**SETTINGS)
@given(
    st.lists(
        st.none() | st.integers(-1_000_000, 1_000_000),
        min_size=1,
        max_size=40,
    )
)
def test_distributed_prefix_ops_match_window_twins_with_nulls(spark, vals):
    """distributed_cumsum and distributed_cummax must equal their
    partitionless-window twins row for row on null-bearing inputs —
    including the all-null-range-partition edge (leading nulls stay NULL
    until the first non-null value appears anywhere in the global prefix;
    after that, SUM ignores nulls and MAX carries the running value)."""
    from pyspark.sql import Window as W

    from data_engineer_capstone_spark.functions.refops import (
        distributed_cummax,
        distributed_cumsum,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k int, v long"
        )
        got_sum = {
            r["k"]: r["c"]
            for r in distributed_cumsum(df, ["k"], "v", name="c").collect()
        }
        got_max = {
            r["k"]: r["m"]
            for r in distributed_cummax(df, ["k"], "v", name="m").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, 0)
    twin = df.select(
        "k", F.sum("v").over(w).alias("c"), F.max("v").over(w).alias("m")
    ).collect()
    assert got_sum == {r["k"]: r["c"] for r in twin}
    assert got_max == {r["k"]: r["m"] for r in twin}


def test_dot_unrolled_bit_identical(spark):
    """`dot_unrolled` must equal the HOF `dot` EXACTLY (==, not approx) on
    real embeddings — same per-element casts added in the same order; the
    library keeps it as a documented measured non-win for pair verifies
    (see cosine_pairs_lsh), so its identity contract stays pinned."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.functions.vectors import dot, dot_unrolled

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, (F.col("ia") % 53) == (F.col("ib") % 53))
    bad = (
        pairs.select(
            (
                dot(F.col("va"), F.col("vb"))
                == dot_unrolled(F.col("va"), F.col("vb"), 64)
            ).alias("eq")
        )
        .where(~F.col("eq"))
        .count()
    )
    assert bad == 0


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=24,
    )
)
def test_literal_frame_string_round_trip(spark, values):
    """Any printable-ASCII string (backslashes, quotes, SQL metachars)
    survives the VALUES literal round-trip exactly (ADVICE r9 fixes #1/#2:
    backslash doubling + top-level schema split). One frame per example —
    all generated strings ride as rows of a single VALUES relation."""
    from data_engineer_capstone_spark.plans._util import literal_frame

    rows = [(i, v) for i, v in enumerate(values)]
    df = literal_frame(spark, rows, "i int, s string")
    got = {r["i"]: r["s"] for r in df.collect()}
    assert got == {i: v for i, v in rows}
