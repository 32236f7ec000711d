"""End-to-end star-schema lake build: t1 smoke (SURVEY.md §5) —
all six tables build, pass DQ gates, and write partitioned parquet."""

from __future__ import annotations

import os

from data_engineer_capstone_spark.pipeline import build, schemas


def test_build_all_and_write_lake(spark, tmp_path):
    tables = build.build_all(spark)
    assert set(tables) == {
        "temperatures",
        "asylum",
        "visitors",
        "workers",
        "time",
        "immigration_facts",
    }
    gates = build.run_quality_gates(tables)
    for name, checks in gates.items():
        assert all(checks.values()), f"{name}: {checks}"

    # time/fact composite-key integrity (README.md:139-142)
    t = tables["time"]
    assert t.count() == t.select("id", "immigration_type").distinct().count()

    out = str(tmp_path / "lake")
    build.write_lake(tables, out)
    for name, part_cols in schemas.PARTITION_SPECS.items():
        root = os.path.join(out, name)
        assert os.path.isdir(root), name
        # Hive-style partition dirs for the first partition column
        entries = [e for e in os.listdir(root) if e.startswith(f"{part_cols[0]}=")]
        assert entries, f"{name}: no partition dirs under {root}"
        back = spark.read.parquet(root)
        assert back.count() == tables[name].count()

    for df in tables.values():
        df.unpersist()


def test_write_lake_jobs_carry_callers_job_group(spark, tmp_path):
    """write_lake submits its writes from pool threads; each of their jobs
    runs under the caller's job group, and none runs ungrouped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tables = build.build_all(spark)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "write-lake-group"
    first = jsc.dagScheduler().numTotalJobs()
    sc.setJobGroup(group, "write lake", interruptOnCancel=False)
    try:
        build.write_lake(tables, str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ran = set(range(first, jsc.dagScheduler().numTotalJobs()))
    jsc.listenerBus().waitUntilEmpty()
    assert len(ran) >= len(tables)
    assert set(tracker.getJobIdsForGroup(group)) == ran
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    for df in tables.values():
        df.unpersist()


def test_cli_end_to_end(spark, tmp_path, capsys):
    """python -m data_engineer_capstone_spark: gates pass, lake written."""
    from data_engineer_capstone_spark.__main__ import main

    out = str(tmp_path / "cli_lake")
    rc = main(["--out", out, "--weekday", "iso"])
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "immigration_facts"))
    assert "lake written" in capsys.readouterr().out


def test_worker_pipeline_reference_quirks(spark):
    workers = build.parse_worker(spark)
    # kaggle-only rows: no dates at all -> arrival parts null, year present
    df1_rows = workers.filter(workers.arrival_month.isNull())
    assert df1_rows.count() > 0
    # state gate: every df2-originated worksite_state is a valid 2-letter code,
    # while df1 passthroughs may keep the leading space (reference semantics)
    spaced = workers.filter(workers.worksite_state.startswith(" ")).count()
    assert spaced > 0  # ' PUERTO RICO' style passthrough survives


def test_generated_code_reused_across_builds(spark):
    """A repeated build reuses its generated classes instead of recompiling
    them. The JVM's codegen cache must hold one build's working set (~105
    classes at fixture scale, over Spark's default of 100 entries). What a
    warm build still compiles are the two union-branch LIMITs of the DQ
    gate's head(1) on ``time`` and ``immigration_facts``: Spark names each
    LIMIT counter from a JVM-wide sequence, so their source is new on every
    call (4 classes each)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for _ in range(2):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        tables = build.build_all(spark)
        gates = build.run_quality_gates(tables)
        counts = {name: df.count() for name, df in tables.items()}
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        for df in tables.values():
            df.unpersist()
        assert all(all(checks.values()) for checks in gates.values()), gates
        assert all(counts.values()), counts
    assert compiles[1] <= 8, f"warm build recompiled generated code: {compiles}"
