"""The repo benchmark: seeded workloads run closed-loop against the engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 1 --trace 0

One client drives one workload on ``local[nproc]`` in a single process and
sends its next query only after the previous one returned. A run:

1. writes the workload's seeded inputs under ``.perfbench/`` in the repo
   checkout (outside any timing);
2. sets up once, cold -- JVM and session start to the end of one untimed
   warm-up pass -- and reports it as ``setup_s``. A second set-up in the
   same process would find the JVM warm and hide the class-loading and JIT
   cost the metric exists to expose, and one in a fresh JVM costs as much
   as the whole measurement, so set-up is steadied by the median over
   runs instead;
3. runs full passes of the workload until ``--seconds`` have elapsed, at
   least one, and reports medians over them;
4. checks every output outside the timed region, the warm-up pass's
   included: oracle-bearing queries hash-match DuckDB on the same inputs,
   approximate-by-design queries return the warm-up's non-empty result in
   every execution, wide results (collected in the warm-up only) are
   checked there, and ``star_etl`` passes every quality gate and reads
   back the row count it wrote;
5. with ``--trace 1``, starts a fresh session of the warm JVM with the
   Spark event log on and the layer wrappers installed, runs traced passes
   for ``--seconds`` more, and reports per-layer metrics instead.

Human-readable metric lines go to stdout; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Without the
engine package beside this directory the run exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from inputs import etl_fixtures, star_tables
from layers import (
    ProcessTree, Spans, attribute_jobs, driver_cpu, exec_metrics, parse_event_log, rebind, restore,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))

# Session settings every run pins (printed with the versions at start):
# all cores; the catalog's small-file persist cache off, as bench.py runs
# (it is a no-op at scale); a driver heap that fits a small host; every
# scratch path inside the checkout, the temp files of each JVM (launcher
# included, hsperfdata off) too.
SETTINGS = {
    "SPARK_GRAFT_CPUS": str(NPROC),
    "SPARK_GRAFT_TABLE_CACHE": "off",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    "TMPDIR": os.path.join(WORK, "tmp"),
    "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
}
MIN_PASSES = 1

WORKLOADS = {
    # One pass runs two query families on one seeded sf0.01 table set: star
    # joins, aggregation and windows (planning, scans, one or two shuffles;
    # no materialize, no Python workers), then pair expansion and ANN
    # search (eager build jobs and materialize, q242's wedge shuffle with
    # its straggler stage, Arrow-batched Python scoring in q106). Each
    # query costs a run about three executions (warm-up, measured pass,
    # oracle), so the set is kept to what the layers need.
    "queries": {
        "sf": 0.01,
        "queries": [
            "q21_star_join_revenue",
            "q30_tpch_q1_agg",
            "q43_running_sum",
            "q242_common_neighbors",
            "q106_ann_ivf",
        ],
    },
    # the reference star-schema job: parse, lookup-join, dedup, quality
    # gates, partitioned parquet write
    "star_etl": {"scale": 4},
}
# Wide results go through the noop sink: count() would let Catalyst prune
# the projection and skip work a user of the result pays for.
WIDE = {"q43_running_sum"}
WARMUP = "warmup"
ETL_TABLES = ("temperatures", "asylum", "visitors", "workers", "time", "immigration_facts")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.cold_start_s": "s", "session.warm_start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "materialize.calls": "count", "materialize.s": "s",
    "catalog.load_calls": "count", "catalog.load_s": "s",
    "catalyst.plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio",
    "python.cpu_s": "s",
    "collect.rows": "count",
    "pipeline.parse_s": "s", "pipeline.fact_s": "s", "pipeline.gates_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "trace.pass_s": "s", "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def p90(values: list[float]) -> tuple[float, int]:
    """90th percentile, interpolated between the two nearest samples (the
    usual linear method), and the number of samples beyond it. A run has a
    few samples, where the nearest-rank percentile is simply the maximum."""
    value = statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 else values[0]
    return value, sum(v > value for v in values)


def _version_tag() -> str:
    """Inputs and oracle answers are cached per seed under a key that
    changes whenever the generator or the workload table changes."""
    h = hashlib.sha256()
    for name in ("inputs.py", "run.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# ------------------------------------------------------------------ session


def start_session(trace_dir: str | None):
    from data_engineer_capstone_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the throughput collector: a batch engine's choice, and its heap
        # footprint follows live data rather than pause-time heuristics, so
        # peak RSS repeats run to run
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm(spark) -> None:
    """Stop the session and the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    tree = ProcessTree(jvm_pid())
    pids = tree.alive()
    spark.stop()
    gw = SparkContext._gateway
    proc = gw.proc
    with contextlib.suppress(Exception):
        gw.shutdown()
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline:
        left = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, 9)


# ------------------------------------------------------------------ workloads


class Tracer:
    """Job tagging and layer spans for the traced session."""

    def __init__(self, spark):
        self.spark = spark
        self.spans = Spans()
        self.tree = ProcessTree(jvm_pid())
        self.windows: list[dict] = []
        self.restore = []
        for layer, name in (("catalog", "load_table"), ("materialize", "materialize")):
            self.restore.append(
                (name, rebind("data_engineer_capstone_spark", name,
                              lambda fn, layer=layer: self.spans.wrap(layer, fn)))
            )

    @contextlib.contextmanager
    def phase(self, group: str, phase: str):
        """Tag the phase's jobs and record its wall-clock window and the
        Python-worker CPU spent in it."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, phase)
        w = {"group": group, "phase": phase, "py0": self.tree.cpu()[1], "t0": time.time()}
        try:
            yield w
        finally:
            w["t1"] = time.time()
            # clamped: a worker's exit moves its ticks between counters
            w["python_cpu_s"] = max(0.0, self.tree.cpu()[1] - w.pop("py0"))
            self.windows.append(w)

    def close(self) -> None:
        for name, done in self.restore:
            restore(done, name)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spark.sparkContext.setLocalProperty("spark.job.description", None)


class QueryWorkload:
    def __init__(self, name: str, spec: dict, seed: int):
        self.name = name
        self.queries = spec["queries"]
        self.dir = os.path.join(WORK, "inputs", f"{name}-{seed}-{_version_tag()}")
        if not os.path.exists(os.path.join(self.dir, "DONE")):
            shutil.rmtree(self.dir, ignore_errors=True)
            star_tables(self.dir, spec["sf"], seed)
            open(os.path.join(self.dir, "DONE"), "w").close()
        from data_engineer_capstone_spark.plans import get_oracles, get_queries

        registry = get_queries()
        self.fns = {q: registry[q] for q in self.queries}
        self.oracles = {q: s for q, s in get_oracles().items() if q in self.fns}
        self.results: dict[str, list] = {q: [] for q in self.queries}
        self.rows_out: dict[str, int] = {}

    def run_pass(self, spark, tracer: Tracer | None, tag: str) -> dict:
        """One execution of every query; latencies exclude result hashing.
        Wide results are collected only in the warm-up pass, which checks
        them; measured passes drive them through the noop sink."""
        execs = []
        for q in self.queries:
            group = f"{tag}:{q}"
            rec = {"query": q, "build_s": 0.0, "plan_s": 0.0, "error": None, "w0": time.time()}
            t0 = time.perf_counter()
            try:
                with (tracer.phase(group, "build") if tracer else contextlib.nullcontext()):
                    df = self.fns[q](spark, self.dir)
                t1 = time.perf_counter()
                with (tracer.phase(group, "action") if tracer else contextlib.nullcontext()):
                    if tracer:
                        df._jdf.queryExecution().executedPlan()
                        rec["plan_s"] = time.perf_counter() - t1
                    if q in WIDE and tag != WARMUP:
                        df.write.format("noop").mode("overwrite").save()
                        rec["rows"] = None
                    else:
                        rec["rows"] = df.collect()
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, latency_s=t2 - t0, columns=df.columns)
                if tracer:
                    from tools.profile_query import plan_md5

                    rec["plan_md5"] = plan_md5(df)
            except Exception as exc:  # counted in failed, never aborts the run
                rec.update(error=f"{type(exc).__name__}: {exc}", latency_s=time.perf_counter() - t0)
                log(f"{q} failed: {traceback.format_exc(limit=3)}")
            rec["w1"] = time.time()
            execs.append(rec)
        return {"execs": execs, "latencies": [e["latency_s"] for e in execs]}

    def record(self, p: dict) -> None:
        """Keep result fingerprints; done after the pass, outside timing."""
        from tests.oracle import rows_fingerprint

        for e in p["execs"]:
            if e["error"] is None and e["rows"] is not None:
                e["fp"] = rows_fingerprint(e["columns"], [tuple(r) for r in e["rows"]])
                self.rows_out[e["query"]] = e["fp"][0]
            e.pop("rows", None)
            self.results[e["query"]].append(e)

    def verify(self, spark, seed: int) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every recorded execution.
        Collected results must hash-match DuckDB or, for queries that are
        approximate by design, be non-empty and match the warm-up's."""
        from tests.oracle import rows_fingerprint, run_duckdb

        cache = os.path.join(WORK, "oracle", f"{self.name}-{seed}-{_version_tag()}.json")
        expected = {}
        if os.path.exists(cache):
            with open(cache) as f:
                expected = {k: tuple(v) for k, v in json.load(f).items()}
        for q, sql in self.oracles.items():
            if q not in expected:
                cols, rows = run_duckdb(sql, self.dir)
                expected[q] = rows_fingerprint(cols, rows)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(expected, f)

        attempted = failed = 0
        problems = []
        for q in self.queries:
            execs = self.results[q]
            want = expected.get(q) or next((e["fp"] for e in execs if "fp" in e), None)
            for e in execs:
                attempted += 1
                err, fp = e["error"], e.get("fp")
                if err is None and fp is not None:
                    if q not in expected and fp[0] == 0:
                        err = "returned no rows"
                    elif tuple(fp) != tuple(want):
                        err = "result differs from " + ("DuckDB" if q in expected else "the warm-up's")
                if err is not None:
                    failed += 1
                    problems.append(f"{q}: {err}")
        return attempted, failed, problems


class EtlWorkload:
    def __init__(self, name: str, spec: dict, seed: int):
        self.name = name
        self.dir = os.path.join(WORK, "inputs", f"{name}-{seed}-{_version_tag()}")
        marker = os.path.join(self.dir, "DONE")
        if not os.path.exists(marker):
            shutil.rmtree(self.dir, ignore_errors=True)
            self.input_bytes = etl_fixtures(self.dir, spec["scale"], seed)
            with open(marker, "w") as f:
                f.write(str(self.input_bytes))
        with open(marker) as f:
            self.input_bytes = int(f.read())
        self.out = os.path.join(WORK, "lake")
        self.gates: list[bool] = []
        self.failures = 0
        self.rows_out: dict[str, int] = {}
        self.tables = None
        # each table's lake write, timed from outside (write_lake submits
        # them concurrently from its own threads)
        import data_engineer_capstone_spark.sources.sinks  # noqa: F401  (so rebind finds it)

        self.writes = Spans()
        rebind("data_engineer_capstone_spark", "write_table",
               lambda fn: self.writes.wrap("sinks", fn, label=lambda df, path, *a, **k: os.path.basename(path)))

    def run_pass(self, spark, tracer: Tracer | None, tag: str) -> dict:
        from data_engineer_capstone_spark.pipeline.build import (
            build_all, materialize_all, run_quality_gates, write_lake,
        )

        for df in (self.tables or {}).values():
            with contextlib.suppress(Exception):  # frames of a stopped session
                df.unpersist()
        phases, gates = {}, {}
        first_write = len(self.writes.items)
        t0 = time.perf_counter()
        error = None
        build_s = plan_s = 0.0
        try:
            # parse: sources -> conformed dims (lookup joins, dedup) in cache
            with (tracer.phase(f"{tag}:parse", "build") if tracer else contextlib.nullcontext()):
                tables = build_all(spark, self.dir, weekday="iso")
            build_s = time.perf_counter() - t0
            with (tracer.phase(f"{tag}:parse", "parse") if tracer else contextlib.nullcontext()):
                materialize_all({k: tables[k] for k in ("asylum", "visitors", "workers")},
                                action=lambda df: df.count())
            t1 = time.perf_counter()
            with (tracer.phase(f"{tag}:gates", "gates") if tracer else contextlib.nullcontext()):
                gates = run_quality_gates(tables, weekday="iso")
            t2 = time.perf_counter()
            if tracer:
                for df in tables.values():
                    df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t2
            with (tracer.phase(f"{tag}:write", "write") if tracer else contextlib.nullcontext()):
                write_lake(tables, self.out)
            t3 = time.perf_counter()
            phases = {"parse": t1 - t0, "gates": t2 - t1, "write": t3 - t2 - plan_s}
            self.tables = tables
        except Exception as exc:
            error = f"{type(exc).__name__}: {exc}"
            log(f"star_etl pass failed: {traceback.format_exc(limit=3)}")
        writes = self.writes.items[first_write:]
        fact = [w for w in writes if w[3] in ("time", "immigration_facts")]
        phases["fact"] = (max(w[2] for w in fact) - min(w[1] for w in fact)) if fact else 0.0
        return {
            "latencies": [w[2] - w[1] for w in writes],
            "build_s": build_s,
            "plan_s": plan_s,
            "phases": phases,
            "gates": [all(g.values()) for g in gates.values()],
            "error": error,
        }

    def record(self, p: dict) -> None:
        self.gates.extend(p["gates"])
        self.failures += p["error"] is not None

    def lake_stats(self) -> tuple[int, int]:
        files = glob.glob(os.path.join(self.out, "**", "*.parquet"), recursive=True)
        return sum(os.path.getsize(f) for f in files), len(files)

    def verify(self, spark, seed: int) -> tuple[int, int, list[str]]:
        problems = []
        attempted = len(self.gates) + len(ETL_TABLES)
        failed = self.gates.count(False) + self.failures
        if self.gates.count(False):
            problems.append(f"{self.gates.count(False)} table gate(s) failed")
        for name in ETL_TABLES:
            try:
                want = self.tables[name].count()
                got = spark.read.parquet(os.path.join(self.out, name)).count()
                ok = want == got and want > 0
            except Exception as exc:
                ok, want, got = False, None, repr(exc)
            self.rows_out[name] = want or 0
            if not ok:
                failed += 1
                problems.append(f"{name}: wrote {want} rows, read back {got}")
        return attempted, failed, problems


# ------------------------------------------------------------------ measuring


def measure(wl, spark, seconds: float, tracer: Tracer | None, label: str) -> list[dict]:
    """Closed loop: full passes until ``seconds`` have elapsed."""
    tree = ProcessTree(jvm_pid())
    passes = []
    start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
        tag = f"{label}{len(passes)}"
        cpu0, py0, drv0 = *tree.cpu(), driver_cpu()
        w0, t0 = time.time(), time.perf_counter()
        p = wl.run_pass(spark, tracer, tag)
        p["pass_s"] = time.perf_counter() - t0
        cpu1, py1, drv1 = *tree.cpu(), driver_cpu()
        p.update(tag=tag, w0=w0, w1=time.time(), cpu_s=cpu1 - cpu0 + drv1 - drv0,
                 python_cpu_s=py1 - py0, rss_mb=tree.peak_rss_mb())
        wl.record(p)
        passes.append(p)
    return passes


def setup(wl, trace_dir: str | None = None) -> tuple[object, float, float]:
    """Session start to the end of one untimed warm-up pass."""
    t0 = time.perf_counter()
    spark = start_session(trace_dir)
    started = time.perf_counter() - t0
    warmup = wl.run_pass(spark, None, WARMUP)
    setup_s = time.perf_counter() - t0
    wl.record(warmup)  # its outputs are checked like any measured pass's
    return spark, setup_s, started


def end_to_end(setup_s: float, passes: list[dict], etl: bool) -> tuple[dict, dict]:
    """End-to-end values of the measured passes. For ``star_etl`` the
    latency samples are its six concurrent table writes; a pass that
    failed before writing adds none (and is counted in ``failed``)."""
    lat = [x for p in passes for x in p["latencies"]]
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": max(p["rss_mb"] for p in passes),
    }
    notes = {
        "passes": len(passes),
        "executions": len(lat),
        "latency_unit": "table_write" if etl else "query",
    }
    if lat:
        values["query_p50_s"] = statistics.median(lat)
        values["query_p90_s"], notes["beyond_p90"] = p90(lat)
    return values, notes


def per_layer(wl, tracer: Tracer, passes: list[dict], log_path: tuple[str, str], untraced_pass_s: float,
              cold_start_s: float, warm_start_s: float) -> dict:
    ev = parse_event_log(*log_path)
    owner = attribute_jobs(ev, tracer.windows)
    rows = []
    etl = isinstance(wl, EtlWorkload)
    for p in passes:
        for e in p.get("execs", []):
            group = f"{p['tag']}:{e['query']}"
            jobs = {j for j, w in owner.items() if w["group"] == group}
            ex = exec_metrics(ev, jobs)
            e.update(jobs=len(jobs), build_jobs=sum(owner[j]["phase"] == "build" for j in jobs),
                     exec_cpu_s=ex["cpu_s"], shuffle_write_bytes=ex["shuffle_write_bytes"],
                     task_skew=ex["task_skew"],
                     materialize_calls=tracer.spans.between("materialize", e["w0"], e["w1"])[0],
                     python_cpu_s=sum(w["python_cpu_s"] for w in tracer.windows if w["group"] == group),
                     rows=wl.rows_out.get(e["query"]))
        prefix = p["tag"] + ":"
        jobs = {j for j, w in owner.items() if w["group"].startswith(prefix)}
        build_jobs = {j for j in jobs if owner[j]["phase"] == "build"}
        ex = exec_metrics(ev, jobs)
        r = {f"exec.{k}": v for k, v in ex.items()}
        mat = tracer.spans.between("materialize", p["w0"], p["w1"])
        cat = tracer.spans.between("catalog", p["w0"], p["w1"])
        execs = p.get("execs", [p])  # a star_etl pass carries its own build/plan times
        r.update({
            "plans.build_s": sum(e["build_s"] for e in execs),
            "plans.build_jobs": len(build_jobs),
            "materialize.calls": mat[0], "materialize.s": mat[1],
            "catalog.load_calls": cat[0], "catalog.load_s": cat[1],
            "catalyst.plan_s": sum(e["plan_s"] for e in execs),
            "python.cpu_s": p["python_cpu_s"],
            "collect.rows": sum(wl.rows_out.values()),
            "trace.pass_s": p["pass_s"],
        })
        ph = p.get("phases", {})
        r.update({
            "pipeline.parse_s": ph.get("parse", 0.0),
            "pipeline.fact_s": ph.get("fact", 0.0),
            "pipeline.gates_s": ph.get("gates", 0.0),
            "sinks.write_s": ph.get("write", 0.0),
        })
        if etl:
            size, files = wl.lake_stats()
            r.update({"sinks.bytes_written": size, "sinks.files_written": files,
                      "sinks.bytes_per_input_byte": size / wl.input_bytes})
        else:
            r.update({"sinks.bytes_written": 0, "sinks.files_written": 0,
                      "sinks.bytes_per_input_byte": 0.0})
        rows.append(r)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["session.cold_start_s"] = cold_start_s
    out["session.warm_start_s"] = warm_start_s
    out["trace.overhead_ratio"] = out["trace.pass_s"] / untraced_pass_s
    return out


def write_trace_record(wl, passes: list[dict], seed: int) -> str:
    """Per-query records of the traced passes: plan md5, build/plan/total
    time, jobs (eager build jobs apart), materialize calls, executor and
    Python-worker CPU, shuffle bytes, task skew, rows."""
    path = os.path.join(WORK, "trace", f"{wl.name}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    recs = [
        {k: e.get(k) for k in ("query", "build_s", "plan_s", "latency_s", "plan_md5", "jobs",
                               "build_jobs", "materialize_calls", "exec_cpu_s", "python_cpu_s",
                               "shuffle_write_bytes", "task_skew", "rows", "error")}
        | {"pass": p["tag"]}
        for p in passes for e in p.get("execs", [])
    ]
    with open(path, "w") as f:
        json.dump({"passes": [{k: p[k] for k in ("tag", "pass_s", "cpu_s", "python_cpu_s")}
                              for p in passes], "queries": recs}, f, indent=1)
    return path


# ------------------------------------------------------------------ main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data_engineer_capstone_spark")):
        log(f"engine package not found beside {HERE}; nothing to benchmark")
        return 2
    os.environ.update(SETTINGS)
    for d in (SETTINGS["SPARK_LOCAL_DIRS"], SETTINGS["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)

    import pyspark

    spec = WORKLOADS[args.workload]
    etl = "scale" in spec
    wl = (EtlWorkload if etl else QueryWorkload)(args.workload, spec, args.seed)

    spark, setup_s, started = setup(wl)
    versions = {"spark": pyspark.__version__,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.runtime.version"),
                "python": platform.python_version(), "nproc": NPROC}
    log(f"perfbench {args.workload} seed={args.seed}: {versions} settings={SETTINGS}")
    passes = measure(wl, spark, args.seconds, None, "p")
    values, notes = end_to_end(setup_s, passes, etl)
    if not etl:
        med = {q: statistics.median(e["latency_s"] for p in passes for e in p["execs"] if e["query"] == q)
               for q in wl.queries}
        notes["query_medians_s"] = ",".join(f"{q.split('_')[0]}:{v:.3f}" for q, v in med.items())

    if args.trace:
        # a fresh session of the warm JVM with the event log on; the run's
        # own passes warmed it, so it measures straight away
        trace_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(trace_dir, exist_ok=True)
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(trace_dir)
        traced_start = time.perf_counter() - t0
        tracer = Tracer(spark)
        traced = measure(wl, spark, args.seconds, tracer, "t")
        tracer.close()
    attempted, failed, problems = wl.verify(spark, args.seed)
    if args.trace:
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        metrics = per_layer(wl, tracer, traced, (trace_dir, app_id),
                            values["pass_s"], started, traced_start)
        log(f"per-query trace records: {write_trace_record(wl, traced, args.seed)}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        units = PER_LAYER
    else:
        units, metrics = END_TO_END, values

    shutdown_jvm(spark)
    for p in problems[:20]:
        log(f"FAILED {p}")
    print(f"workload={args.workload} seed={args.seed} " + " ".join(f"{k}={v}" for k, v in notes.items()))
    for k, v in values.items():
        print(f"{k:<14} {v:12.4f} {END_TO_END[k]}")
    print(f"{'failed_ratio':<14} {failed / max(attempted, 1):12.4f} ratio ({failed}/{attempted})")
    if args.trace:
        for k in PER_LAYER:
            print(f"{k:<28} {metrics[k]:16.4f} {PER_LAYER[k]}")
        for e in (e for p in traced[:1] for e in p.get("execs", [])):
            print(f"  {e['query']:<26} " + " ".join(f"{k}={e[k]:.4g}" for k in (
                "latency_s", "build_s", "build_jobs", "materialize_calls", "exec_cpu_s",
                "python_cpu_s", "shuffle_write_bytes", "task_skew", "rows") if e.get(k) is not None))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
