"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The driver checks the head (~50 names) of the dicts' iteration order, so
that order is the rotation. It is derived from committed records alone:
the ``CORRECTNESS_r*.json`` files next to this module and the plan record
``tools/plan_baseline.json`` (see :func:`rotation`).

All real logic lives in the ``data_engineer_capstone_spark`` package; this
module only adapts its query registry to the driver's interface.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from data_engineer_capstone_spark.plans import get_oracles, get_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    return get_queries()["q30_tpch_q1_agg"](spark, "/root/testdata/sf0.001")


def correctness_records() -> dict[int, dict]:
    """Every committed driver record, keyed by its round number."""
    records = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            records[int(re.search(r"_r(\d+)\.json$", path)[1])] = json.load(f)
    return records


def plan_rounds() -> dict[str, int]:
    """Per query, the first driver round that can see its current plan."""
    with open(os.path.join(_ROOT, "tools", "plan_baseline.json")) as f:
        return {name: rec["round"] for name, rec in json.load(f).items()}


def _qnum(name: str) -> int:
    return int(name.split("_", 1)[0][1:])


def rotation(
    names: Iterable[str], records: dict[int, dict], plan_round: dict[str, int]
) -> list[str]:
    """Order ``names`` for the driver sample.

    A name's staleness is the last round in which it has a passing row
    (``hash_match`` true, or the rows-only ``err == "no_oracle"``); a name
    with no passing row gets round 0. Names whose plan round is later than
    their staleness (the plan changed after the last passing row) come
    first; then staleness, oldest first; then query number.
    """
    last: dict[str, int] = {}
    for rnd, record in records.items():
        for name, row in record.items():
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                last[name] = max(last.get(name, 0), rnd)

    def key(name: str) -> tuple[bool, int, int]:
        stale = last.get(name, 0)
        return (plan_round.get(name, 0) <= stale, stale, _qnum(name))

    return sorted(names, key=key)


def _rotate(reg: dict) -> dict:
    """Optional SPARK_GRAFT_QUERY_SUBSET (comma-separated names) narrows to
    an explicit subset in the given order; otherwise :func:`rotation`."""
    subset = os.environ.get("SPARK_GRAFT_QUERY_SUBSET")
    if subset:
        want = [s.strip() for s in subset.split(",") if s.strip()]
        return {k: reg[k] for k in want if k in reg}
    order = rotation(reg, correctness_records(), plan_rounds())
    return {k: reg[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotate(get_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each SQL-expressible query."""
    return _rotate(get_oracles())
