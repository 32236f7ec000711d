"""Per-query profiler: runs registered queries N times each in one fresh
session at a given SF (the BASELINE.md q21/q276 drift protocol) and
reports each run layer by layer.

Per run, while the session is up, one line: wall time, the number of
Janino compiles of generated code (the JVM's CodegenMetrics delta), the
md5 of the NORMALIZED executed plan (AQE final plan, expression/plan ids
and temp paths stripped) and the driver JVM's CPU-seconds split by thread
group, read from ``/proc/<jvm pid>/task/*/{comm,stat}``: the C2 and C1 JIT
compiler threads, executor task threads, GC threads, the Py4J gateway
threads (unnamed ``Thread-N``, where the query's planning runs) and the
rest (including threads that exited during the run), and beside it the
JVM's own JIT compile time (``CompilationMXBean`` total, which still
counts a compiler thread that the JVM retired, while its CPU lands in
``other``). A descending time curve onto a stable floor with an unchanged
plan hash and no compiles after the first run = JIT/scheduler warm-up
(environment), not plan cost; compiles in every run = generated code
recompiled (codegen cache too small, or source that differs per run); a
changed hash or a flat-but-slower curve = a real regression.

Execution layers come from the engine's own record: the session writes
its event log (uncompressed, to a temporary directory) and each run
carries its own job group. After the session stops, the log is read with
``perfbench/layers.py`` (Spark names the file ``<app>.inprogress`` until
then) and each run gets a second line: jobs, stages, tasks and failed
tasks; executor CPU, run and GC seconds; shuffle read, shuffle write and
spill bytes (memory and disk spill summed); ``skew time``, the slowest
task over the median task of the stage holding the run's slowest task,
which shared-host load moves; and ``skew bytes``, the load-independent
signal: the largest max/median of shuffle bytes per task over the run's
stages, read and write apart. A stage whose median task moved no bytes
while another task did has no ratio; it is counted in ``median0`` instead.
Bytes follow from plan and data, so repeated runs mostly reproduce them
exactly (q388's iterative HITS moved by up to 3% between runs at sf0.1);
CPU-seconds move with host load. ``--out`` writes every run's record as
JSON.

Usage:
    python tools/profile_query.py q30_tpch_q1_agg --runs 8
    python tools/profile_query.py q335_triangle_count --runs 8 \
        --sf /root/testdata/sf0.1
    python tools/profile_query.py q30_tpch_q1_agg q242_common_neighbors \
        --runs 2 --count-only --out artifacts/layers_<tag>.json
"""

from __future__ import annotations

import argparse
import collections
import difflib
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_capstone_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from data_engineer_capstone_spark.plans import get_queries  # noqa: E402
from data_engineer_capstone_spark.session import get_spark  # noqa: E402
from perfbench.layers import attribute_jobs, exec_metrics, parse_event_log  # noqa: E402


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
    # a scan cuts each metadata value to spark.sql.maxMetadataStringLength
    # characters (default 100) and appends `...`. The cut counts the raw
    # expression ids, so where ids come before it, their digit count moves
    # it (observed on q30 at sf0.01: `isnotnull(l_returnflag#x), isn...`
    # in a session's first run, `isnotnull(l_returnflag#x),...` in later
    # runs, whose ids are longer). Drop the text of a cut DataFilters list:
    # the Filter node above the scan still prints those predicates whole.
    # PartitionFilters are kept, cut or not: the planner takes them out of
    # that Filter, so the scan is the only place a change to them shows.
    plan = re.sub(
        r"\b(DataFilters: )(?:(?!, \w+: ).)*?\.\.\.(?=, \w+: |$)",
        r"\1...",
        plan,
        flags=re.M,
    )
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


def _md5(plan: str) -> str:
    return hashlib.md5(plan.encode()).hexdigest()[:12]


def plan_md5(df) -> str:
    return _md5(normalized_plan(df))


# JVM thread groups by /proc comm (names are cut to 15 characters). GC
# workers are `GC Thread#N` under G1 (plus `G1 ...` service threads) and
# `ParGC Thread#N` under the parallel collector.
THREAD_GROUPS = (
    ("c2", re.compile(r"C2 CompilerThre")),
    ("c1", re.compile(r"C1 CompilerThre")),
    ("tasks", re.compile(r"Executor task l")),
    ("gc", re.compile(r"(Par)?GC Thread|G1 ")),
    ("py4j", re.compile(r"Thread-\d+$")),
)


def thread_group(comm: str) -> str | None:
    return next((g for g, pattern in THREAD_GROUPS if pattern.match(comm)), None)


def _cpu_s(stat: str) -> float:
    fields = stat[stat.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_thread_cpu(pid: int) -> tuple[float, dict[str, tuple[str | None, float]]]:
    """A JVM's CPU-seconds so far, and each live thread's group (None
    outside ``THREAD_GROUPS``) and CPU-seconds, by thread id."""
    with open(f"/proc/{pid}/stat") as f:
        total = _cpu_s(f.read())
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                used = _cpu_s(f.read())
        except OSError:  # the thread exited meanwhile
            continue
        threads[tid] = (thread_group(comm), used)
    return total, threads


def thread_split(before, after) -> collections.Counter:
    """CPU-seconds per thread group between two ``jvm_thread_cpu``
    snapshots. ``other`` is the rise of the process total less the named
    groups', so it also holds the threads that exited in between (the JVM
    retires idle compiler threads)."""
    cpu = collections.Counter()
    for tid, (group, used) in after[1].items():
        if group:
            cpu[group] += used - before[1].get(tid, (group, 0.0))[1]
    cpu["other"] = after[0] - before[0] - sum(cpu.values())
    return cpu


def byte_skew(log: dict, jobs: set[int]) -> tuple[float, int]:
    """(largest max/median shuffle bytes per task over the stages of
    ``jobs``, read and write apart; stages whose median task moved no bytes
    while another task did). Those stages have no ratio: the median is
    never a divisor when it is 0. 1.0 when no stage has two tasks."""
    per_task = collections.defaultdict(list)
    for t in log["tasks"]:
        if t["job"] in jobs:
            per_task[t["stage"], "read"].append(t["sh_read"])
            per_task[t["stage"], "write"].append(t["sh_write"])
    skew, median0 = 1.0, set()
    for (stage, _), moved in per_task.items():
        if len(moved) < 2 or not max(moved):
            continue
        median = statistics.median(moved)
        if median:
            skew = max(skew, max(moved) / median)
        else:
            median0.add(stage)
    return skew, len(median0)


def profile(spark, name: str, args, windows: list[dict]) -> list[dict]:
    """Run one query ``args.runs`` times, printing a line per run; returns
    the runs' records, with each run's job group window in ``windows``."""
    fn = get_queries()[name]
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jvm_pid = sc._gateway.proc.pid
    groups = [g for g, _ in THREAD_GROUPS] + ["other"]
    times, hashes, plans, records = [], [], [], []
    for i in range(args.runs):
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        jit_ms = jit.getTotalCompilationTime()
        cpu = jvm_thread_cpu(jvm_pid)
        window = {"group": f"{name}:{i}", "phase": name}
        sc.setJobGroup(window["group"], window["phase"])
        window["t0"] = t0 = time.time()
        df = fn(spark, args.sf)
        df.count() if args.count_only else df.collect()
        times.append(time.time() - t0)
        cpu = thread_split(cpu, jvm_thread_cpu(jvm_pid))
        jit_ms = jit.getTotalCompilationTime() - jit_ms
        compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
        plans.append(normalized_plan(df))
        window["t1"] = time.time()
        windows.append(window)
        hashes.append(_md5(plans[-1]))
        split = " ".join(f"{g} {cpu[g]:.2f}" for g in groups)
        print(
            f"run {i}: {times[-1]:.3f} s  compiles {compiled}  plan md5 {hashes[-1]}"
            f"  jvm cpu-s {split}  jit compile-s {jit_ms / 1000:.2f}",
            flush=True,
        )
        records.append({
            "query": name, "run": i, "sec": round(times[-1], 3), "compiles": compiled,
            "plan_md5": hashes[-1], "jit_compile_s": jit_ms / 1000,
            "jvm_cpu_s": {g: round(cpu[g], 2) for g in groups},
        })
    timed = times[1:]
    if timed:
        stats = (
            f"min {min(timed):.3f}; "
            f"median {sorted(timed)[len(timed) // 2]:.3f}"
        )
    else:  # --runs 1: only the warmup ran, nothing post-warmup to summarize
        stats = "min/median n/a (need --runs >= 2 for post-warmup stats)"
    print(
        f"\n{name} @ {args.sf}: warmup {times[0]:.3f}; {stats}; "
        f"plan stable: {len(set(hashes)) == 1} ({hashes[-1]})"
    )
    if args.dump_plan:
        print(plans[-1])
        for i in range(1, len(plans)):
            if hashes[i] != hashes[i - 1]:
                print(f"\nplan md5 moved, run {i - 1} -> run {i}:")
                print("\n".join(difflib.unified_diff(
                    plans[i - 1].splitlines(), plans[i].splitlines(),
                    f"run {i - 1}", f"run {i}", lineterm="",
                )))
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=8)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument(
        "--count-only",
        action="store_true",
        help="drive the plan with count() instead of collect() (wide results)",
    )
    ap.add_argument(
        "--dump-plan",
        action="store_true",
        help="print the full normalized executed plan of the last run, and a"
        " diff of the normalized plans wherever the md5 moves between runs",
    )
    ap.add_argument("--out", default=None, help="write every run's record here as JSON")
    args = ap.parse_args()

    log_dir = tempfile.mkdtemp(prefix="profile-eventlog-")
    try:
        spark = get_spark(
            app_name="profile_query",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            },
        )
        app_id = spark.sparkContext.applicationId
        windows, records = [], []
        for name in args.names:
            records += profile(spark, name, args, windows)
        spark.stop()
        log = parse_event_log(log_dir, app_id)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    owner = attribute_jobs(log, windows)
    print()
    for rec, window in zip(records, windows):
        jobs = {j for j, w in owner.items() if w is window}
        layers = exec_metrics(log, jobs)
        layers["byte_skew"], layers["median0_stages"] = byte_skew(log, jobs)
        rec.update((k, round(v, 3) if isinstance(v, float) else v) for k, v in layers.items())
        print(
            f"{rec['query']} run {rec['run']}: jobs {rec['jobs']} stages {rec['stages']}"
            f" tasks {rec['tasks']} failed {rec['failed_tasks']}"
            f"  exec cpu-s {rec['cpu_s']:.2f} run-s {rec['run_s']:.2f} gc-s {rec['gc_s']:.2f}"
            f"  bytes shuffle read {rec['shuffle_read_bytes']} write {rec['shuffle_write_bytes']}"
            f" spill {rec['spill_bytes']}"
            f"  skew time {rec['task_skew']:.2f} bytes {rec['byte_skew']:.2f}"
            f" median0 {rec['median0_stages']}"
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf": args.sf, "runs": records}, f, indent=1)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
