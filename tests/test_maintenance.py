"""Compaction / clustering maintenance operators (SCALE.md §7)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from data_engineer_capstone_spark.operators.maintenance import cluster_by, compact


def test_compact_rewrites_small_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    # simulate a fragmented table: 16 writer tasks for a tiny dataset
    spark.range(10_000).repartition(16).write.parquet(path)
    before = len(glob.glob(path + "/*.parquet"))
    assert before == 16
    stats = compact(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg({"id": "sum"}).collect()[0][0] == 10_000 * 9_999 // 2


def test_cluster_by_gives_disjoint_file_ranges(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(100_000).withColumnRenamed("id", "k")
    cluster_by(df, path, ["k"], n_files=4)
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # every file owns a disjoint slice of the key space -> footer min/max
    # prunes whole files for selective predicates
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"
    assert spark.read.parquet(path).count() == 100_000


def test_plan_exchange_counts_do_not_regress(spark):
    """Explain-plan regression gate: every batch query's static-plan
    exchange count must not EXCEED the ``exchanges`` field of its entry in
    the committed plan record (tools/plan_baseline.json, one
    ``{"exchanges", "md5", "round"}`` entry per query: ``md5`` is the
    normalized plan md5 and ``round`` the first driver round that can see
    that plan). An exchange that appears between rounds is
    an accidental shuffle — the class of regression this repo's round-4
    explode-symmetrization sweep removed (q200 27->17, q224's doubled LSH
    pass). Improvements (fewer exchanges) pass; refresh the record
    deliberately with `python tools/audit_plans.py --write-baseline`.
    Red-flag operators are asserted here too, so the auditor's contract
    runs in CI, not only by hand."""
    import json
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from audit_plans import BASELINE_PATH, audit

    with open(BASELINE_PATH) as f:
        baseline = json.load(f)
    regressions, flagged, improvements = [], [], []
    # pinned to sf0.01 — the SF the baseline was recorded at: static size
    # estimates feed join-strategy choice, so counts are only comparable
    # at the same SF
    for name, exch, flags, _ in audit(spark, "/root/testdata/sf0.01"):
        if flags:
            flagged.append((name, flags))
        base = baseline.get(name, {}).get("exchanges")
        if base is None:
            regressions.append((name, "NOT IN BASELINE — rerun --write-baseline"))
        elif exch > base:
            regressions.append((name, f"exchanges {base} -> {exch}"))
        elif exch < base:
            improvements.append((name, base, exch))
    assert not flagged, f"red-flag operators: {flagged}"
    assert not regressions, f"plan regressions: {regressions}"


def test_clean_checkpoints_conf_set(spark):
    """ADVICE r6 #2: reliable-mode checkpoint files are only reclaimed when
    ContextCleaner sees cleanCheckpoints=true, and it reads the conf at
    context creation — get_spark() must therefore set it unconditionally."""
    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )


def _profile_query(*args: str) -> str:
    """Stdout of ``tools/profile_query.py`` run in its own process: it
    stops its session, so it cannot share the test session."""
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [_sys.executable, os.path.join(root, "tools", "profile_query.py"), *args],
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return done.stdout


def test_profile_query_single_run():
    """ADVICE r6 #3: --runs 1 used to crash on min() of the empty
    post-warmup list; it must now degrade to a warmup-only summary."""
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    import profile_query

    from tests.conftest import SF_SMOKE

    out = _profile_query("q01_full_scan", "--runs", "1", "--sf", SF_SMOKE, "--count-only")
    assert "warmup" in out
    assert "min/median n/a" in out
    # the run's driver-JVM CPU split by thread group
    import re

    assert re.search(r"jvm cpu-s c2 [\d.]+ c1 [\d.]+ tasks [\d.]+ gc [\d.]+ py4j [\d.]+ other ", out)
    # and the JVM's own JIT compile time, which a retired compiler thread
    # does not hide
    assert re.search(r" other -?[\d.]+  jit compile-s [\d.]+$", out, re.M)
    # a compiler thread that exits during a run leaves its share in `other`
    before = (10.0, {"1": ("c2", 4.0), "2": ("c2", 1.0), "3": (None, 2.0)})
    after = (16.0, {"1": ("c2", 5.5), "3": (None, 2.5), "4": ("tasks", 2.0)})
    split = profile_query.thread_split(before, after)
    assert split == {"c2": 1.5, "tasks": 2.0, "other": 2.5}
    groups = {
        "C2 CompilerThre": "c2", "C1 CompilerThre": "c1", "Executor task l": "tasks",
        "GC Thread#0": "gc", "ParGC Thread#3": "gc", "G1 Conc#0": "gc",
        "Thread-12": "py4j", "VM Thread": None, "Thread-12-x": None,
    }
    assert {c: profile_query.thread_group(c) for c in groups} == groups


def test_profile_query_layer_records(tmp_path):
    """Each run of each named query gets its execution record from the
    event log: its own jobs, no failed task, and the shuffle bytes of its
    plan, the same in every run."""
    import json

    from tests.conftest import SF_SMOKE

    out = tmp_path / "layers.json"
    names = ["q30_tpch_q1_agg", "q01_full_scan"]
    stdout = _profile_query(
        *names, "--runs", "2", "--count-only", "--sf", SF_SMOKE, "--out", str(out)
    )
    report = json.loads(out.read_text())
    assert report["sf"] == SF_SMOKE
    runs = report["runs"]
    assert [(r["query"], r["run"]) for r in runs] == [(n, i) for n in names for i in range(2)]
    fields = {
        "sec", "compiles", "plan_md5", "jit_compile_s", "jvm_cpu_s", "jobs", "stages", "tasks",
        "failed_tasks", "cpu_s", "run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "task_skew", "byte_skew", "median0_stages",
    }
    for r in runs:
        assert fields <= set(r), r
        assert r["jobs"] > 0 and r["failed_tasks"] == 0, r
        assert f"{r['query']} run {r['run']}: jobs {r['jobs']} " in stdout
    q30 = [r["shuffle_write_bytes"] for r in runs if r["query"] == "q30_tpch_q1_agg"]
    assert q30[0] > 0 and q30[0] == q30[1]

    # byte skew: a stage whose median task moved no bytes has no ratio
    from tools.profile_query import byte_skew

    def task(stage, read, write, job=1):
        return {"job": job, "stage": (stage, 0), "sh_read": read, "sh_write": write}

    log = {"tasks": [
        task(0, 0, 0), task(0, 0, 0), task(0, 5, 0),
        task(1, 0, 10), task(1, 0, 30), task(1, 0, 20),
        task(2, 1, 1), task(2, 900, 1, job=2),
    ]}
    assert byte_skew(log, {1}) == (1.5, 1)
    assert byte_skew(log, {3}) == (1.0, 0)


def test_tools_named_in_docs_exist():
    """Every ``tools/<name>.py`` the README and the verify notes point at
    is in the tree."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
    named = {
        tool
        for doc in docs
        for tool in re.findall(r"tools/(\w+)\.py", open(os.path.join(root, doc)).read())
    }
    assert named
    assert sorted(t for t in named if not os.path.isfile(os.path.join(root, "tools", f"{t}.py"))) == []


def test_expansion_partitions_policy(spark):
    """Pin the SCALE.md rule (c3) sizing contract: floor at
    max(defaultParallelism, shuffle width) — the ``_spread`` precedent,
    because an explicit repartition(n) is exact and AQE never widens it —
    grow with the expansion cardinality at 750k rows per task, cap at
    65536, and degrade to the floor on empty/None input (empty frames
    must not error or shrink parallelism)."""
    from data_engineer_capstone_spark.sizing import expansion_partitions

    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = max(spark.sparkContext.defaultParallelism, sp)
    assert expansion_partitions(spark, None) == floor
    assert expansion_partitions(spark, 0) == floor
    assert expansion_partitions(spark, 10) == floor
    # the q242 figure: 147.8M wedges -> 198 partitions (> any local floor)
    assert expansion_partitions(spark, 147_816_257) == max(floor, 198)
    # cap engages for astronomically skewed histograms
    assert expansion_partitions(spark, 10**14) == 65_536
    # DuckDB's SUM returns float for the histogram expression — accept it
    assert expansion_partitions(spark, 1.5e6) == max(floor, 3)
    # the advisor's round-7 scenario: shuffle.partitions below core count
    # must not cap the expansion below machine width
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        dp = spark.sparkContext.defaultParallelism
        assert expansion_partitions(spark, 10) == max(dp, 4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_bench_two_sweep_protocol(monkeypatch, capsys):
    """Pin the round-8 bench protocol without Spark: every query runs 2+2
    across two full sweeps (sweep 2 must not start until sweep 1 covered
    the whole set — that ordering IS the cold-start defense), and the
    reported figure is the min of the three post-warmup samples."""
    import json

    import bench
    import tools.profile_query as pq

    class _FakeDF:
        def count(self):
            return 1

    fake_reg = {"qa": object(), "qb": object(), "qs": lambda spark, sf: _FakeDF()}
    monkeypatch.setattr(bench, "get_queries", lambda: fake_reg)
    monkeypatch.setattr(bench, "get_spark", lambda **kw: None)
    monkeypatch.setattr(bench, "HEADLINE", ["qa", "qb"])
    # VERDICT r9 ask #4: the slow-contract lane reports separately and is
    # NEVER summed into the headline total
    monkeypatch.setattr(bench, "SLOW_CONTRACTS", ["qs"])
    monkeypatch.setattr(pq, "plan_md5", lambda df: "cafebabe")

    calls = []
    # scripted timings: qa = [9.0 (warmup), 5.0, 3.0, 4.0] -> min 3.0
    #                   qb = [2.0 (warmup), 8.0, 1.0, 6.0] -> min 1.0
    seq = {"qa": iter([9.0, 5.0, 3.0, 4.0]), "qb": iter([2.0, 8.0, 1.0, 6.0])}
    pipe = iter([7.0, 2.5, 2.25, 2.75])  # -> min 2.25

    def fake_once(spark, fn, name, sf_dir):
        calls.append(name)
        return next(seq[name])

    monkeypatch.setattr(bench, "_time_once", fake_once)
    monkeypatch.setattr(
        bench, "_time_pipeline_once", lambda spark: (calls.append("pipe"), next(pipe))[1]
    )

    class _Stop:
        def stop(self):
            pass

    monkeypatch.setattr(bench, "get_spark", lambda **kw: _Stop())
    bench.main()
    out = json.loads(capsys.readouterr().out.strip())
    assert out["queries"] == {"qa": 3.0, "qb": 1.0, "pipeline_q70_q72": 2.25}
    assert out["value"] == 6.25  # slow lane excluded from the total
    assert "qs" not in out["queries"]
    slow = out["slow_contracts"]["qs"]
    assert slow["plan_md5"] == "cafebabe" and len(slow["runs"]) == 2
    assert slow["sec"] == min(slow["runs"])
    # two sweeps of 2: the second half must repeat the full set, not
    # interleave per-query blocks of 4
    assert calls == [
        "qa", "qa", "qb", "qb", "pipe", "pipe",
        "qa", "qa", "qb", "qb", "pipe", "pipe",
    ]


def test_literal_frame_escapes_and_param_types(spark):
    """ADVICE r8: backslashes in string values must survive Spark's
    escape-processing parser, and schema types with embedded commas
    (decimal(10,2), map-free multi-word types) must parse."""
    from data_engineer_capstone_spark.plans._util import (
        _split_schema,
        literal_frame,
    )

    df = literal_frame(
        spark,
        [("a\\tb", 1, 1.25), ("it's", 2, 2.5)],
        "label string, n int, amt decimal(10,2)",
    )
    rows = {r["label"]: r for r in df.collect()}
    # the raw backslash-t survives as two characters, not a tab
    assert "a\\tb" in rows and "\t" not in "".join(rows)
    assert rows["it's"]["n"] == 2
    assert str(df.schema["amt"].dataType) == "DecimalType(10,2)"
    assert float(rows["a\\tb"]["amt"]) == 1.25

    assert _split_schema("k map<string,int>, v array<int>") == [
        ("k", "map<string,int>"),
        ("v", "array<int>"),
    ]
    try:
        _split_schema("justonename")
    except AssertionError:
        pass
    else:
        raise AssertionError("1-token fragment must be rejected")


def test_split_schema_rejects_unbalanced_brackets():
    """ADVICE r9 #2: an unbalanced schema must fail AT THE PARSE SITE with
    a message naming the schema string, not mis-merge fragments into a
    confusing downstream assertion or a wrong CAST."""
    import pytest

    from data_engineer_capstone_spark.plans._util import _split_schema

    # unclosed '(' — the advisor's exact example. ValueError, not
    # AssertionError (ADVICE r10 #1): asserts are stripped under
    # python -O, silently reviving the mis-merge this guard prevents.
    with pytest.raises(ValueError, match=r"unbalanced bracket.*a decimal\(10, b int"):
        _split_schema("a decimal(10, b int")
    # stray closer must fail at its index, not go depth-negative silently
    with pytest.raises(ValueError, match="unbalanced bracket.*unmatched"):
        _split_schema("a int>, b int")
    # unclosed '<'
    with pytest.raises(ValueError, match="unclosed"):
        _split_schema("k map<string,int, v int")
    # balanced schemas still parse
    assert _split_schema("a decimal(10,2), b map<string,int>") == [
        ("a", "decimal(10,2)"),
        ("b", "map<string,int>"),
    ]


def _fake_plan_df(plan: str):
    """Stand-in for a DataFrame whose executed plan prints as ``plan``."""
    from types import SimpleNamespace as NS

    executed = NS(toString=lambda: plan)
    qe = NS(executedPlan=lambda: executed)
    return NS(_jdf=NS(queryExecution=lambda: qe))


def test_plan_normalizer_offset_map_anchor():
    """ADVICE r8: the offset-map normalizer matches any consecutive key
    list via the [_pid#x] anchor, and leaves genuine data maps alone."""
    from tools.profile_query import normalized_plan

    # 2-key offset map (the <=3-key shape the old regex missed)
    plan_in = (
        "Project [map(keys: [0,1], values: [0,188])[_pid#38] AS rnk#9L, "
        "map(keys: [0,1,2], values: [CA,NY,TX])[code#4] AS state#5]"
    )
    out = normalized_plan(_fake_plan_df(plan_in))
    assert "map(keys: [PIDS], values: [OFFSETS])[_pid#x]" in out
    # the genuine data map (consecutive int keys, non-_pid lookup) survives
    assert "values: [CA,NY,TX]" in out


def test_plan_normalizer_distinct_group_order():
    """Two DISTINCT aggregates rewritten into one Expand: Spark may number
    the distinct groups in either order from run to run (hash-map order on
    expression ids). Both numberings hash alike; a real change in those
    lines still moves the md5."""
    from tools.profile_query import plan_md5

    def plan(first, second, agg="count"):
        return "\n".join([
            "HashAggregate(keys=[day#1L], functions=["
            f"{agg}(x#2L) FILTER (WHERE (gid#3 = {1 if first == 'x' else 2})), "
            f"{agg}(y#4L) FILTER (WHERE (gid#3 = {1 if first == 'y' else 2}))])",
            f"+- Expand [[day#1L, {first}#5L, null, 1], "
            f"[day#1L, null, {second}#6L, 2]], "
            f"[day#1L, {first}#5L, {second}#6L, gid#3]",
            "   +- Scan [day#1L, x#5L, y#6L]",
        ])

    md5 = plan_md5(_fake_plan_df(plan("x", "y")))
    assert plan_md5(_fake_plan_df(plan("y", "x"))) == md5
    assert plan_md5(_fake_plan_df(plan("x", "y", agg="sum"))) != md5


def test_plan_normalizer_cut_filter_list():
    """A scan cuts a long filter list at a fixed raw length, so longer
    expression ids move the cut (q30 at sf0.01, a session's first run
    against later ones). Both cuts hash alike; a change elsewhere in the
    scan still moves the md5, and so does a change inside a cut
    PartitionFilters list, whose predicates the scan alone prints."""
    from tools.profile_query import normalized_plan, plan_md5

    def scan(ids, cut, fmt="Parquet", part="p"):
        a, b = ids
        return (
            f"+- FileScan parquet [l_shipdate#{a},l_returnflag#{b}] Batched: true, "
            f"DataFilters: [isnotnull(l_shipdate#{a}), (l_shipdate#{a} <= 2001-06-01 00:00:00), "
            f"isnotnull(l_returnflag#{b}),{cut}..., Format: {fmt}, "
            "Location: InMemoryFileIndex(1 paths)[file:/data/lineitem.parquet], "
            f"PartitionFilters: [isnotnull({part}#{a}), ({part}#{a} >= 2001-01-01), "
            f"({part}#{a} <= 2001-06-01), isnotnull(q#{b}),..., "
            "PushedFilters: [IsNotNull(l_shipdate)], "
            "ReadSchema: struct<l_shipdate:timestamp_ntz,l_returnflag:string>"
        )

    md5 = plan_md5(_fake_plan_df(scan((61, 66), " isn")))
    assert plan_md5(_fake_plan_df(scan((1061, 1066), ""))) == md5
    assert plan_md5(_fake_plan_df(scan((61, 66), " isn", fmt="ORC"))) != md5
    assert plan_md5(_fake_plan_df(scan((61, 66), " isn", part="d"))) != md5
    out = normalized_plan(_fake_plan_df(scan((61, 66), " isn")))
    assert "DataFilters: ..., Format: Parquet" in out
    assert "PartitionFilters: [isnotnull(p#x), (p#x >= 2001-01-01)," in out


def test_gemm_cosine_twin_matches_hof_path(spark):
    """Pin the GEMM swap's equivalence claim (SCALE.md §15; LANDED round
    11): the shipped ``cosine_pairs`` — now the broadcast-matrix GEMM
    interior — must produce the exact rounded pair set the pre-swap HOF
    path produces (``hof_cosine_pairs``, retained verbatim in
    tools/experiment_gemm_cosine as the independent Catalyst-only
    reference) — same ids, same 1e-6-rounded scores."""
    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.operators.similarity import cosine_pairs
    from tools.experiment_gemm_cosine import THRESHOLD, canon, hof_cosine_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    hof = canon(hof_cosine_pairs(emb, THRESHOLD))
    shipped = canon(cosine_pairs(emb, threshold=THRESHOLD))
    assert len(hof) > 0  # threshold produces a non-trivial set at sf0.001
    assert hof == shipped


def test_brute_topk_gemm_matches_hof_twin(spark):
    """Pin the round-11 ``brute_force_topk`` GEMM interior against an
    inline Catalyst-only twin of the pre-swap plan (broadcast nested loop
    + codegen'd fold cosine + window rank), on a crafted corpus with
    DELIBERATE rounded-score ties (duplicated and scaled vectors — cosine
    is scale-invariant, so the tie-break must fall to candidate_id
    exactly as the kernel's lexsort claims). Also checked on the real
    sf0.001 embeddings."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.functions.vectors import cosine
    from data_engineer_capstone_spark.operators.similarity import (
        brute_force_topk,
    )

    def hof_twin(q, c, k):
        qq = q.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("qv"))
        cc = c.select(F.col("vec_id").alias("candidate_id"),
                      F.col("embedding").alias("cv"))
        rc = F.floor(cosine(F.col("qv"), F.col("cv")) * 1000000
                     + F.lit(0.5)) / 1000000
        scored = cc.crossJoin(F.broadcast(qq)).select(
            "query_id", "candidate_id", rc.alias("cos_sim"))
        w = W.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("candidate_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "candidate_id", "cos_sim", "rank"))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    # crafted ties: candidates 2/3 duplicate candidate 1's direction
    # (one verbatim, one scaled 2x), so their rounded cosines tie exactly
    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
        (10, [1.0, 0.0, 0.0]), (11, [1.0, 0.0, 0.0]),
        (12, [2.0, 0.0, 0.0]), (13, [0.0, 1.0, 0.0]),
        (14, [0.5, 0.5, 0.0]), (15, [0.3, 0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 10)
    c = df.where(F.col("vec_id") >= 10)
    assert canon(brute_force_topk(q, c, k=3)) == canon(hof_twin(q, c, 3))

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qe = emb.filter(F.col("vec_id") < 10)
    ce = emb.filter(F.col("vec_id") >= 10)
    assert canon(brute_force_topk(qe, ce, k=5)) == canon(hof_twin(qe, ce, 5))


def test_ktruss_decrement_loop_matches_reenumeration(spark, monkeypatch):
    """Round-12 q345 rewrite pin: the materialize-and-decrement loop
    (enumerate triangles once, per round filter the triangle list by the
    peeled edges) must produce the exact rows of the pre-rewrite
    re-enumerating loop (retained inline here as the reference twin), on
    a crafted graph that exercises every peel behavior: a K5 core (every
    edge survives both rounds), a K4 (survives at exactly the support
    threshold), two triangles sharing an edge (outer edges peel round 1,
    the shared edge CASCADES out in round 2 — the decrement semantics),
    and an isolated edge (never in a triangle, dropped round 1)."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.materialize import materialize
    from data_engineer_capstone_spark.plans import graph_behavior as gb

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k4 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    bowtie = [(20, 21), (20, 22), (21, 22), (21, 23), (22, 23)]  # share (21,22)
    iso = [(30, 31)]
    edges_rows = k5 + k4 + bowtie + iso
    crafted = spark.createDataFrame(edges_rows, "a long, b long")

    def reenumerating_twin(edges):
        # verbatim pre-round-12 loop body (round 11 tree)
        edges = materialize(edges)
        for _ in range(gb.KTRUSS_ROUNDS):
            edges = edges.select("a", "b")
            e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
            e2 = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
            e3 = edges.select(F.col("a").alias("u"), F.col("b").alias("w"))
            tri = e1.join(e2, "v").join(e3, ["u", "w"], "left_semi")
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
                .where(F.col("s") >= gb.KTRUSS_SUPPORT)
            )
            edges = (
                edges.join(sup, (edges.a == sup.x) & (edges.b == sup.y))
                .select("a", "b", "s")
                .transform(materialize)
            )
        return edges.select("a", "b", F.col("s").alias("support")).orderBy("a", "b")

    monkeypatch.setattr(gb, "_edges", lambda _spark, _sf: crafted)
    shipped = [tuple(r) for r in gb.q345(spark, "unused").collect()]
    twin = [tuple(r) for r in reenumerating_twin(crafted).collect()]
    assert shipped == twin
    # sanity on the crafted behaviors: K5 edges survive with support 3,
    # K4 with exactly the threshold, the bowtie and the isolated edge
    # are fully peeled (shared edge cascades in round 2)
    got = dict(((a, b), s) for a, b, s in shipped)
    assert all(got[e] == 3 for e in k5)
    assert all(got[e] == 2 for e in k4)
    assert not any(e in got for e in bowtie + iso)


def test_batch_rounded_cosine_matches_catalyst_expression(spark):
    """Round-12 ANN rescore kernel pin: ``_batch_rounded_cosine`` must
    reproduce the Catalyst ``_rounded_cosine`` projection row-for-row on
    a crafted pair frame covering the degenerate classes — null vector
    (either side), zero-norm vector (Catalyst divides by zero -> NULL),
    rounding ties (scaled duplicate directions) — plus the real sf0.001
    embeddings."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.operators.similarity import (
        _batch_rounded_cosine,
        _rounded_cosine,
    )

    def canon(df):
        return sorted(
            (r.qid, r.cid, r.cos_sim) for r in df.collect()
        )

    rows = [
        (1, 1, [1.0, 0.0], [1.0, 0.0]),
        (2, 2, [1.0, 0.0], [0.0, 1.0]),
        (3, 3, [2.0, 0.0], [1.0, 0.0]),      # scale-invariant tie with row 1
        (5, 5, None, [1.0, 0.0]),            # null vector -> NULL
        (6, 6, [0.5, 0.5], None),            # null vector -> NULL
        (7, 7, [0.6, -0.8], [-0.6, 0.8]),
    ]
    pairs = spark.createDataFrame(
        rows, "qid long, cid long, qv array<double>, cv array<double>"
    )
    expr_form = pairs.select(
        "qid", "cid", _rounded_cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    kernel_form = _batch_rounded_cosine(pairs, "qv", "cv", ["qid", "cid"])
    expr_rows = canon(expr_form)
    assert canon(kernel_form) == expr_rows
    # null-vector rows are PRESENT with NULL scores, not dropped
    assert [q for q, _, s in expr_rows if s is None] == [5, 6]
    # a zero-norm vector ERRORS under the ANSI expression form (Spark 4
    # default: DIVIDE_BY_ZERO); the kernel scores it NULL instead — the
    # strictly-more-permissive branch, still a kept row, never a ranked
    # score
    zrow = spark.createDataFrame(
        [(4, 4, [0.0, 0.0], [1.0, 0.0])],
        "qid long, cid long, qv array<double>, cv array<double>",
    )
    assert canon(_batch_rounded_cosine(zrow, "qv", "cv", ["qid", "cid"])) == [
        (4, 4, None)
    ]

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    b = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    real = (
        a.where(F.col("qid") < 8)
        .crossJoin(b.where((F.col("cid") >= 8) & (F.col("cid") < 48)))
    )
    assert canon(
        _batch_rounded_cosine(real, "qv", "cv", ["qid", "cid"])
    ) == canon(
        real.select(
            "qid", "cid",
            _rounded_cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )


def test_bounded_side_guard_raises(spark, monkeypatch):
    """Round-12 executable bounded-collect contract (VERDICT r11 ask #5):
    cosine_pairs / brute_force_topk must fail loudly BEFORE collecting
    when the bounded side exceeds BOUNDED_SIDE_MAX_ROWS, and the guard's
    probe must not change results for in-bound callers."""
    import pytest as _pytest

    from data_engineer_capstone_spark.operators import similarity as sim

    rows = [(i, [float(i), 1.0]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(sim, "BOUNDED_SIDE_MAX_ROWS", 8)
    with _pytest.raises(ValueError, match="cosine_pairs: bounded side"):
        sim.cosine_pairs(df, threshold=0.5)
    with _pytest.raises(ValueError, match="brute_force_topk: bounded side"):
        sim.brute_force_topk(df, df, k=2)
    monkeypatch.setattr(sim, "BOUNDED_SIDE_MAX_ROWS", 32)
    assert sim.cosine_pairs(df, threshold=0.99).count() > 0
    assert sim.brute_force_topk(df.limit(2), df, k=2).count() == 4
    # the probe counts what the collect keeps: exactly `cap` valid rows
    # plus null-vector and null-id rows is within the bound
    monkeypatch.setattr(sim, "BOUNDED_SIDE_MAX_ROWS", 8)
    padded = df.where("vec_id < 8").unionByName(
        spark.createDataFrame(
            [(100 + i, None) for i in range(5)] + [(None, [1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
    )
    assert sim.cosine_pairs(padded, threshold=0.99).count() > 0
    assert sim.brute_force_topk(padded, df, k=2).count() == 16


def test_brute_topk_fewer_than_k_finite_candidates(spark):
    """brute_force_topk's contract: a query with fewer than k finite-scored
    candidates returns fewer than k rows — zero-norm candidates have no
    cosine and never fill the remaining ranks."""
    from data_engineer_capstone_spark.operators.similarity import brute_force_topk

    schema = "vec_id long, embedding array<double>"
    queries = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    corpus = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [0.0, 1.0])]
        + [(i, [0.0, 0.0]) for i in (3, 4, 5)],
        schema,
    )
    rows = brute_force_topk(queries, corpus, k=4).collect()
    assert sorted((r.candidate_id, r.rank) for r in rows) == [(1, 1), (2, 2)]


def test_edges_aggregate_derivation_matches_join_twin(spark):
    """Round-12 `_edges` rewrite pin (guide §2.4): the per-order
    collect_set + HOF pair expansion must produce exactly the lineitem
    self-join derivation's edge set — on the real sf0.001 lineitem AND
    on a crafted frame exercising the divergence candidates: a part
    appearing on TWO lineitems of one order (collect_set dedups it
    before expansion; the join crossed it and a<b+distinct collapsed
    it), unsorted input order, single-part orders (no pairs), and the
    same pair arising from two different orders (distinct)."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.plans import graph_behavior as gb

    def join_twin(li):
        x = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
        y = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
        return (
            x.join(y, "k").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
        )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    shipped = gb._edges(spark, "/root/testdata/sf0.001")
    from data_engineer_capstone_spark.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    real = canon(shipped)
    assert real == canon(join_twin(li))
    assert len(real) > 0

    rows = [
        (1, 30), (1, 10), (1, 20), (1, 10),   # dup part in one order, unsorted
        (2, 10), (2, 20),                      # same pair minted by order 2 too
        (3, 7),                                # single-part order: no pairs
    ]
    crafted = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    # re-run the shipped derivation body on the crafted frame
    parts = crafted.groupBy("l_orderkey").agg(
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
    crafted_edges = (
        parts.select(F.explode(pairs).alias("e")).select("e.a", "e.b").distinct()
    )
    assert canon(crafted_edges) == canon(join_twin(crafted)) == [
        (10, 20), (10, 30), (20, 30)
    ]


def test_weighted_edge_counts_match_join_twin(spark):
    """Round-12 `_weighted_edge_counts` pin (the q374/q389 weighted twin
    of the `_edges` rewrite): per-(order, part) pre-counts expanded with
    product weights must reproduce the lineitem self-join's
    GROUP BY (a, b) COUNT(*) exactly — including the multiplicative
    contribution of a part on TWO lineitems of one order (c_a·c_b row
    pairs), which plain distinct-set expansion would undercount."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.plans import graph_behavior as gb

    def join_twin(li):
        x = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
        y = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
        return (
            x.join(y, "k")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def canon(df):
        return sorted(tuple(r) for r in df.select("a", "b", "cnt").collect())

    from data_engineer_capstone_spark.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    real = canon(gb._weighted_edge_counts(spark, "/root/testdata/sf0.001"))
    assert real == canon(join_twin(li))
    assert len(real) > 0

    # crafted multiset semantics: part 10 on TWO lineitems of order 1
    # makes (10, 20) count 2 there (2x1 row pairs); order 2 adds 1 more
    rows = [(1, 10), (1, 10), (1, 20), (2, 10), (2, 20), (3, 7)]
    crafted = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    pc = crafted.groupBy("l_orderkey", "l_partkey").agg(F.count(F.lit(1)).alias("c"))
    parts = pc.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_partkey", "c"))).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda b: F.struct(
                    a["l_partkey"].alias("a"), b["l_partkey"].alias("b"),
                    (a["c"] * b["c"]).alias("cw"),
                ),
            ),
        )
    )
    crafted_counts = (
        parts.select(F.explode(pairs).alias("e"))
        .select("e.a", "e.b", "e.cw")
        .groupBy("a", "b")
        .agg(F.sum("cw").cast("long").alias("cnt"))
    )
    assert canon(crafted_counts) == canon(join_twin(crafted)) == [(10, 20, 3)]
