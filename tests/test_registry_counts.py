"""Guards against doc/registry drift (VERDICT r4 ask #5: the README's
query counts drifted twice during round 4) and on the driver rotation in
``__spark_entry__.py`` (derived from the committed CORRECTNESS records and
the plan record: a permutation of the registry, plan-moved names first,
then stalest first).
"""

from __future__ import annotations

import os
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineer_capstone_spark.plans import get_oracles, get_queries

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_counts_match_registry():
    with open(os.path.join(_ROOT, "README.md")) as f:
        text = f.read()
    m = re.search(
        r"(\d+) of the (\d+) registered queries carry a DuckDB oracle", text
    )
    assert m, "README count sentence not found — keep it or update this test"
    assert int(m.group(2)) == len(get_queries()), (
        f"README says {m.group(2)} registered queries, "
        f"registry has {len(get_queries())}"
    )
    assert int(m.group(1)) == len(get_oracles()), (
        f"README says {m.group(1)} oracle-backed queries, "
        f"registry has {len(get_oracles())}"
    )


# driver rows: the two passing kinds (value-hash match, rows-only-by-design
# `no_oracle`) and two failing ones
_ROWS = st.sampled_from([
    {"hash_match": True, "err": None},
    {"hash_match": None, "err": "no_oracle"},
    {"hash_match": False, "err": None},
    {"hash_match": None, "err": "timeout"},
])


def _staleness(names, records):
    last = dict.fromkeys(names, 0)
    for rnd, record in records.items():
        for name, row in record.items():
            if row["hash_match"] is True or row["err"] == "no_oracle":
                last[name] = max(last[name], rnd)
    return last


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_rotation_orders_fronted_then_stalest(data):
    """The rotation is a permutation of the registry: names whose plan
    round is later than their last passing row come first, staleness never
    decreases after them, and ties go by query number."""
    import __spark_entry__ as entry

    qnums = data.draw(st.sets(st.integers(1, 999), max_size=40))
    names = [f"q{n:02d}_x" for n in qnums]
    pick = st.sampled_from(names) if names else st.nothing()
    records = data.draw(st.dictionaries(
        st.integers(1, 15), st.dictionaries(pick, _ROWS), max_size=6
    ))
    plan_round = data.draw(st.dictionaries(pick, st.integers(0, 16)))

    order = entry.rotation(names, records, plan_round)
    assert sorted(order) == sorted(names) and len(order) == len(names)
    stale = _staleness(names, records)
    fronted = [plan_round.get(n, 0) > stale[n] for n in order]
    assert fronted == sorted(fronted, reverse=True)
    keys = [(not f, stale[n], entry._qnum(n)) for f, n in zip(fronted, order)]
    assert keys == sorted(keys)


def test_rotation_head_derived_from_committed_records():
    """The committed rotation: same keys as the registry and the oracle set,
    and its order follows from the CORRECTNESS_r*.json files and the plan
    record alone — the fronted names lead, then the stalest rows, and the
    ~50-name driver sample re-checks nothing the newest record covered
    unless its plan moved since."""
    import glob
    import json

    import __spark_entry__ as entry

    reg, oracles = get_queries(), get_oracles()
    order = list(entry.queries())
    assert set(order) == set(reg) and len(order) == len(reg)
    assert list(entry.oracle_sql()) == [n for n in order if n in oracles]
    assert set(entry.oracle_sql()) == set(oracles)

    records = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            records[int(re.search(r"_r(\d+)\.json$", path)[1])] = json.load(f)
    with open(os.path.join(_ROOT, "tools", "plan_baseline.json")) as f:
        plan_round = {n: rec["round"] for n, rec in json.load(f).items()}
    stale = _staleness(reg, records)
    fronted = {n for n in reg if plan_round.get(n, 0) > stale[n]}
    assert set(order[: len(fronted)]) == fronted
    rest = [stale[n] for n in order[len(fronted):]]
    assert rest == sorted(rest)
    newest = records[max(records)]
    assert not [n for n in order[:50] if n in newest and n not in fronted]


@pytest.fixture
def bench(monkeypatch):
    """``import bench`` sets SPARK_GRAFT_TABLE_CACHE=off as a side effect;
    registering the variable with monkeypatch first restores the caller's
    value (or its absence) when the test ends."""
    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", "off")
    import bench

    return bench


def test_bench_names_exist_in_registry(bench):
    """A renamed/retired query must not silently break the driver's bench
    run — every name bench.py references has to resolve in the registry."""
    reg = get_queries()
    missing = [n for n in bench.HEADLINE if n not in reg]
    missing += [n for n in bench.PIPELINE_COMPOSITE if n not in reg]
    missing += [n for n in bench.SLOW_CONTRACTS if n not in reg]
    assert not missing, f"bench names missing from registry: {missing}"
    known = set(bench.HEADLINE) | set(bench.PIPELINE_COMPOSITE)
    stray = [n for n in bench.COUNT_ONLY if n not in known]
    assert not stray, f"bench option sets reference untimed names: {stray}"
    # the slow lane must stay OUT of the pinned headline key set
    assert not set(bench.SLOW_CONTRACTS) & set(bench.HEADLINE)


def test_bench_keys_match_r8_record(bench):
    """VERDICT r8 ask #5: BENCH_r09 vs BENCH_r08 must be like-for-like —
    the bench key set is pinned to the keys the round-8 record reported."""
    import json

    with open(os.path.join(_ROOT, "BENCH_r08.json")) as f:
        recorded = set(json.load(f)["parsed"]["queries"])
    # the PIPELINE_COMPOSITE trio reports as the single pipeline_q70_q72 key
    current = set(bench.HEADLINE) | {"pipeline_q70_q72"}
    assert current == recorded, (
        f"bench keys drifted vs BENCH_r08: +{current - recorded} "
        f"-{recorded - current}"
    )
