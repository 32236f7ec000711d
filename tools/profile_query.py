"""Standalone drift-investigation profiler (the BASELINE.md q21/q276
protocol, now a committed tool instead of an ad-hoc snippet).

Runs ONE registered query N times in a fresh session at a given SF and
prints, per run: wall time, the number of Janino compiles of generated
code (the JVM's CodegenMetrics delta) and the md5 of the NORMALIZED
executed plan (AQE final plan, expression/plan ids and temp paths
stripped). A descending time curve onto a stable floor with an unchanged
plan hash and no compiles after the first run = JIT/scheduler warm-up
(environment), not plan cost; compiles in every run = generated code
recompiled (codegen cache too small, or source that differs per run); a
changed hash or a flat-but-slower curve = a real regression.

Usage:
    python tools/profile_query.py q30_tpch_q1_agg --runs 8
    python tools/profile_query.py q335_triangle_count --runs 8 \
        --sf /root/testdata/sf0.1
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_capstone_spark.plans import get_queries  # noqa: E402
from data_engineer_capstone_spark.session import get_spark  # noqa: E402


def normalized_plan(df) -> str:
    """Executed plan with run-varying tokens stripped, for stable hashing."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+", "#x", plan)  # expression ids
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    plan = re.sub(r"\[id=#x\]", "", plan)
    # localCheckpoint scans surface as `Scan ExistingRDD mapPartitions...
    # MapPartitionsRDD[1234]` — the RDD id is fresh per run and would
    # make every checkpoint-bearing plan hash-unstable
    plan = re.sub(r"RDD\[\d+\]", "RDD[x]", plan)
    plan = re.sub(r"\[Memory(Checkpoint)?RDD[^\]]*\]", "[ckptRDD]", plan)
    # higher-order-function lambda variables get session-global fresh ids
    # (lambda x_1 ... lambda x_9) — strip so HOF-bearing plans hash stably
    plan = re.sub(r"lambda ([A-Za-z]\w*?)_\d+", r"lambda \1_n", plan)
    # AQE numbers query stages in materialization order, which races
    # between independent branches — same structure, shuffled labels
    plan = re.sub(r"QueryStage \d+", "QueryStage n", plan)
    # WholeStageCodegen span ids race the same way (observed on q201: the
    # ONLY run-to-run diff was *(7) vs *(8) on identical operator trees);
    # keep the * marker (codegen vs not is plan-relevant), drop the id
    plan = re.sub(r"\*\(\d+\)", "*(n)", plan)
    plan = re.sub(r"(file|hdfs|s3a):[^\s,\]\)]+", r"\1:PATH", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics()", plan)
    # the distributed-rank machinery (refops.distributed_cumsum /
    # deterministic_id) bakes a partition-id -> offset map literal into the
    # plan; repartitionByRange draws its boundary sample with a fresh seed
    # per run, so the per-partition counts — and therefore the offset
    # VALUES — legitimately vary run-to-run while the plan shape is
    # byte-identical (observed on q247: the only diff between two runs'
    # executed plans was this literal). Strip the values, anchored on the
    # `[_pid#x]` lookup the refops rank machinery always applies (ADVICE
    # r8: the old `keys: [0,1,2,` prefix missed <=3-partition maps and
    # could strip a genuine data map with consecutive int keys — the
    # _pid anchor matches any offset-map length and nothing else, since
    # only refops mints a `_pid` partition-id column).
    plan = re.sub(
        r"map\(keys: \[\d+(?:,\d+)*\], values: \[[^\]]*\]\)(\[_pid#x\])",
        r"map(keys: [PIDS], values: [OFFSETS])\1",
        plan,
    )
    # several DISTINCT aggregates over different inputs are rewritten into
    # an Expand with one branch per distinct group, labelled by a `gid`
    # column. Spark numbers the groups in the iteration order of a hash map
    # keyed on the groups' expressions, whose hashes include expression
    # ids; eager jobs re-plan under AQE and consume ids at a timing-
    # dependent rate, so the same plan comes out with the groups (and
    # their gid labels, key order and Expand rows) permuted (observed on
    # q214 and q401 between two audits of one tree). On the lines that
    # carry `gid`, hash the sorted bag of tokens instead of their order.
    return re.sub(
        r"^( *)(.*gid#x.*)$",
        lambda m: m[1] + " ".join(sorted(re.split(r"[\s,()\[\]]+", m[2]))),
        plan,
        flags=re.M,
    )


def plan_md5(df) -> str:
    return hashlib.md5(normalized_plan(df).encode()).hexdigest()[:12]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--runs", type=int, default=8)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--count-only",
        action="store_true",
        help="drive the plan with count() instead of collect() (wide results)",
    )
    ap.add_argument(
        "--dump-plan",
        action="store_true",
        help="print the full normalized executed plan of the last run",
    )
    args = ap.parse_args()

    spark = get_spark(app_name=f"profile-{args.name}")
    fn = get_queries()[args.name]
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    times, hashes = [], []
    for i in range(args.runs):
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.time()
        df = fn(spark, args.sf)
        df.count() if args.count_only else df.collect()
        times.append(time.time() - t0)
        compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
        hashes.append(plan_md5(df))
        print(
            f"run {i}: {times[-1]:.3f} s  compiles {compiled}  plan md5 {hashes[-1]}",
            flush=True,
        )
    timed = times[1:]
    if timed:
        stats = (
            f"min {min(timed):.3f}; "
            f"median {sorted(timed)[len(timed) // 2]:.3f}"
        )
    else:  # --runs 1: only the warmup ran, nothing post-warmup to summarize
        stats = "min/median n/a (need --runs >= 2 for post-warmup stats)"
    print(
        f"\n{args.name} @ {args.sf}: warmup {times[0]:.3f}; {stats}; "
        f"plan stable: {len(set(hashes)) == 1} ({hashes[-1]})"
    )
    if args.dump_plan:
        print(normalized_plan(df))


if __name__ == "__main__":
    main()
