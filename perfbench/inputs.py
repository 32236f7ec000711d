"""Seeded benchmark inputs.

Two families, both written under a directory the caller chooses:

- ``star_tables``: the TPC-H-like tables the query registry reads
  (region nation customer supplier part orders lineitem events documents
  embeddings), one parquet file each, in the layout and value
  distributions of the engine's reference test data. A fixed base table
  set is drawn for the scale factor, then the seed permutes the rows of
  every table and drops ~1% of them, so two seeds give different inputs
  of the same shape and size.
- ``etl_fixtures``: the raw sources of the reference star-schema job
  (``pipeline.build``), a scaled version of ``tools/gen_fixtures.py`` with
  every quirk kept: verbatim duplicate rows, dangling lookup codes,
  NULL dates, bad worksite state codes. Row contents are drawn from the
  seed, so dedup never collapses one seed's copy into another's.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

BASE_SEED = 42
DROP_SHARE = 0.01

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.43, 0.145, 0.145, 0.14, 0.14]


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_event = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vecs = 500 if sf <= 0.01 else int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 10**6
    t["events"] = pa.table({
        "event_id": np.arange(n_event, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, month_us, n_event)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_event).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_event)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_event), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)],
    })
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    # 5% near-duplicates: another document's text with one token appended
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return t


def star_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the seeded table set: the base tables, rows permuted and ~1%
    dropped (the two dimension lists, region and nation, are only permuted)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([BASE_SEED, seed & 0xFFFFFFFF])
    for name, table in _base_tables(sf).items():
        order = rng.permutation(table.num_rows)
        if name not in ("region", "nation"):
            order = order[: table.num_rows - int(table.num_rows * DROP_SHARE)]
        pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- ETL fixtures

_COUNTRIES = [
    "United States", "El Salvador", "Guatemala", "Honduras", "Mexico",
    "China", "India", "Viet Nam", "South Korea", "Philippines",
    "Dominican Republic", "Cuba", "Colombia", "Brazil", "Haiti",
    "Jamaica", "Canada", "United Kingdom", "Germany", "France",
]
_STATE_NAMES = [
    "CALIFORNIA", "TEXAS", "NEW YORK", "FLORIDA", "ILLINOIS", "WASHINGTON",
    "MASSACHUSETTS", "NEW JERSEY", "GEORGIA", "NORTH CAROLINA", "OHIO",
    "PENNSYLVANIA", "MICHIGAN", "VIRGINIA", "ARIZONA", "COLORADO",
]
_STATE_ABBRS = [
    "CA", "TX", "NY", "FL", "IL", "WA", "MA", "NJ", "GA", "NC", "OH", "PA",
    "MI", "VA", "AZ", "CO",
]
_CITIES = [
    "SAN JOSE", "AUSTIN", "NEW YORK", "MIAMI", "CHICAGO", "SEATTLE",
    "BOSTON", "NEWARK", "ATLANTA", "CHARLOTTE", "COLUMBUS", "PHILADELPHIA",
    "DETROIT", "RICHMOND", "PHOENIX", "DENVER",
]
_STATUSES = ["CERTIFIED", "DENIED", "WITHDRAWN", "CERTIFIED-WITHDRAWN"]
_EMPLOYERS = [
    f"{w} {s}"
    for w in ("ACME", "GLOBEX", "INITECH", "UMBRELLA", "STARK", "WAYNE", "HOOLI", "VANDELAY")
    for s in ("CORP LLC", "INC", "SYSTEMS", "LABS")
]


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _with_dups(cols: dict[str, np.ndarray], every: int) -> dict[str, np.ndarray]:
    """Append every ``every``-th row again, verbatim (the sources' duplicates)."""
    n = len(next(iter(cols.values())))
    idx = np.concatenate([np.arange(n), np.arange(0, n, every)])
    return {k: v[idx] for k, v in cols.items()}


def _write_csv(path: str, cols: dict[str, np.ndarray]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pcsv.write_csv(pa.table({k: pa.array(list(v), pa.string()) for k, v in cols.items()}), path)


def _fmt(values: np.ndarray, fmt: str, null_mask: np.ndarray | None = None) -> np.ndarray:
    out = np.array([fmt.format(v) for v in values], dtype=object)
    if null_mask is not None:
        out[null_mask] = None
    return out


def etl_fixtures(out_dir: str, scale: int, seed: int) -> int:
    """Write the reference job's sources at ``scale`` x the committed
    fixtures; returns the total input bytes."""
    rng = np.random.default_rng([BASE_SEED + 1, seed & 0xFFFFFFFF])

    # climate: one row per (country, month), 5% NULL temperatures, dup every 97th
    months = 100 * scale
    country = np.repeat(np.array(_COUNTRIES, dtype=object), months)
    m = np.tile(np.arange(months), len(_COUNTRIES))
    n = len(country)
    temp_null = rng.random(n) < 0.05
    climate = {
        "dt": np.array([f"{1980 + i // 12:04d}-{i % 12 + 1:02d}-01" for i in m], dtype=object),
        "AverageTemperature": _fmt(np.round(rng.uniform(-10, 35, n), 3), "{}", temp_null),
        "AverageTemperatureUncertainty": _fmt(np.round(rng.uniform(0.1, 2.0, n), 3), "{}", temp_null),
        "Country": country,
    }
    climate = _with_dups(climate, 97)
    perm = rng.permutation(len(climate["dt"]))
    _write_csv(os.path.join(out_dir, "climate_data", "climate.csv"),
               {k: v[perm] for k, v in climate.items()})

    # asylum: one row per (country, year), 5% all-empty measures, dup every 23rd
    years = 2009 + np.arange(10)
    a_country = np.repeat(np.array(sorted(_COUNTRIES), dtype=object), len(years))
    a_year = np.tile(years, len(_COUNTRIES))
    n = len(a_country)
    blank = rng.random(n) < 0.05
    asylum = {
        "country": a_country,
        "year": a_year.astype(str).astype(object),
        "num_arrivals": _fmt(rng.integers(0, 5001, n), "{}", blank),
        "num_accepted_affirmitavely": _fmt(rng.integers(0, 801, n), "{}", blank),
        "num_accepted_defensively": _fmt(rng.integers(0, 301, n), "{}", blank),
    }
    _write_csv(os.path.join(out_dir, "refugee_and_migrant_data", "asylum_cleaned.csv"),
               _with_dups(asylum, 23))

    # visitor lookups (same as the committed fixtures) + fact-scale SAS extract
    base = os.path.join(out_dir, "i94_visitor_data")
    os.makedirs(os.path.join(base, "sas_data"), exist_ok=True)
    cit = [{"code": 100 + i, "region": c, "valid": True} for i, c in enumerate(_COUNTRIES)]
    cit += [{"code": c, "region": None, "valid": False} for c in (900, 901, 902)]
    ports = [{"code": f"P{i:02d}", "municipality": c.title(), "region": s}
             for i, (c, s) in enumerate(zip(_CITIES, _STATE_ABBRS))]
    ports += [{"code": f"F{i:02d}", "municipality": None, "region": c.title()}
              for i, c in enumerate(_COUNTRIES[:8])]
    ports += [{"code": "XXX", "municipality": None, "region": None}]
    visa = [{"code": 1, "type": "Business"}, {"code": 2, "type": "Pleasure"},
            {"code": 3, "type": "Student"}]
    for fname, obj in (("i94cit_and_i94res.json", cit), ("i94port.json", ports),
                       ("i94visa.json", visa)):
        with open(os.path.join(base, fname), "w") as f:
            json.dump(obj, f, indent=2)
    n = 5000 * scale
    port_codes = [p["code"] for p in ports]
    res = (100 + rng.integers(0, len(_COUNTRIES), n)).astype(np.float64)
    res[(rng.random(n) < 0.05) & (rng.random(n) < 0.5)] = 999.0  # dangling code
    port = _pick(rng, port_codes, n)
    port[rng.random(n) < 0.05 / (len(port_codes) + 1)] = "ZZZ"  # dangling code
    arr = rng.integers(20000, 21501, n).astype(np.float64)
    arr[rng.random(n) < 0.03] = np.nan
    dep = rng.integers(20100, 22001, n).astype(np.float64)
    dep[rng.random(n) < 0.2] = np.nan
    visitor = {
        "cicid": (6_000_000 + np.arange(n)).astype(np.float64),
        "i94res": res,
        "i94port": port,
        "arrdate": arr,
        "i94visa": rng.integers(1, 4, n).astype(np.float64),
        "i94addr": _pick(rng, _STATE_ABBRS, n),
        "depdate": dep,
        "visatype": _pick(rng, ["B1", "B2", "F1", "WT", "WB"], n),
        "i94bir": rng.integers(18, 91, n).astype(np.float64),
        "gender": _pick(rng, ["M", "F", None], n),
    }
    visitor = _with_dups(visitor, 20)
    arrays = {}
    for k, v in visitor.items():
        if v.dtype == np.float64:
            arrays[k] = pa.array(v, pa.float64(), mask=np.isnan(v))
        else:
            arrays[k] = pa.array(list(v), pa.string())
    pq.write_table(pa.table(arrays), os.path.join(base, "sas_data", "part-0.parquet"))

    # workers: employer names carry a seeded number so scaled copies stay distinct
    legal = os.path.join(out_dir, "legal_immigrant_data")
    n = 1400 * scale
    employer = np.char.add(
        np.array(_EMPLOYERS)[rng.integers(0, len(_EMPLOYERS), n)],
        np.char.mod(" %05d", rng.integers(0, 100_000, n)),
    ).astype(object)
    city_i = rng.integers(0, len(_CITIES), n)
    kind = rng.random(n)
    worksite = np.where(
        kind < 0.8,
        np.char.add(np.char.add(np.array(_CITIES)[city_i], ", "), np.array(_STATE_NAMES)[city_i]),
        np.where(
            kind < 0.9,
            np.char.add(np.char.add(np.array(_CITIES)[city_i], ", "), np.array(_STATE_ABBRS)[city_i]),
            "SAN JUAN, PUERTO RICO",
        ),
    ).astype(object)
    kaggle = {
        "CASE_STATUS": _pick(rng, _STATUSES, n),
        "EMPLOYER_NAME": employer,
        "YEAR": _pick(rng, ["2015", "2016", "2017"], n),
        "WORKSITE": worksite,
    }
    _write_csv(os.path.join(legal, "h1b_kaggle.csv"), _with_dups(kaggle, 13))

    i = rng.integers(0, len(_CITIES), n)
    j = rng.integers(0, len(_CITIES), n)
    bad = rng.random(n)
    ws_state = np.where(
        bad < 0.85, np.array(_STATE_ABBRS)[j],
        np.where(bad < 0.9, np.char.lower(np.array(_STATE_ABBRS)[j]),
                 np.where(bad < 0.95, np.array(_STATE_NAMES)[j], "XXZ")),
    ).astype(object)
    start_y = rng.integers(2016, 2018, n)
    has_dates = rng.random(n) > 0.1
    has_end = has_dates & (rng.random(n) > 0.1)
    start = np.array([f"{y}-{a:02d}-{b:02d}" for y, a, b in
                      zip(start_y, rng.integers(1, 13, n), rng.integers(1, 29, n))], dtype=object)
    end = np.array([f"{y + 3}-{a:02d}-{b:02d}" for y, a, b in
                    zip(start_y, rng.integers(1, 13, n), rng.integers(1, 29, n))], dtype=object)
    start[~has_dates] = None
    end[~has_end] = None
    fy17 = {
        "CASE_STATUS": _pick(rng, _STATUSES, n),
        "VISA_CLASS": _pick(rng, ["H-1B", "E-3 Australian", "H-1B1 Chile"], n),
        "EMPLOYMENT_START_DATE": start,
        "EMPLOYMENT_END_DATE": end,
        "EMPLOYER_NAME": np.array([e.title() for e in employer], dtype=object)[rng.permutation(n)],
        "EMPLOYER_CITY": np.array([c.title() for c in _CITIES], dtype=object)[i],
        "EMPLOYER_STATE": np.array(_STATE_ABBRS, dtype=object)[i],
        "WORKSITE_CITY": np.array([c.title() for c in _CITIES], dtype=object)[j],
        "WORKSITE_STATE": ws_state,
    }
    _write_csv(os.path.join(legal, "H-1B_Disclosure_Data_FY17.csv"), _with_dups(fy17, 17))

    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs
    )
