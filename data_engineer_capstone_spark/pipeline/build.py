"""The reference star-schema ETL rebuilt Spark-first.

Faithful to the reference's semantics (SURVEY.md §2.9 Q70-Q73) with the
documented fixes:

- schema conformance by cast-enforcing ``select`` (not empty-df union);
- union by NAME (the reference's `_fill_missing_columns` + positional
  `union` at pyspark.py:296-297 silently misaligns df2's columns — our
  `union_align` is the corrected semantics);
- deterministic surrogate ids (`row_number` over the natural key) instead
  of `monotonically_increasing_id`;
- both Python UDFs replaced by native expressions (refops);
- conformed dimensions are ``persist()``-ed before the time/fact fan-out
  and the DQ/write fan-out, fixing the reference's recomputation of every
  parse pipeline per action (SURVEY §3.1).

Scale notes: lookup joins broadcast; writes ``repartition`` on the
partition columns before ``partitionBy`` so each output partition is
written by one task (no thousand tiny files per partition at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.refops import (
    VALID_STATES,
    abbreviate_state,
    clean_string,
    code_lookup,
    conform_schema,
    data_quality_checks,
    date_parts,
    deterministic_id,
    sas_epoch_to_date,
    union_align,
)
from . import schemas

FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)


def _wd_type(weekday: str) -> T.DataType:
    return T.IntegerType() if weekday == "iso" else T.StringType()


def _csv(spark: SparkSession, path: str, columns: str) -> DataFrame:
    """CSV scan with an EXPLICIT all-string schema (types are cast later by
    ``conform_schema``). A schema-less ``header=True`` read resolves the
    header eagerly — one extra driver job per source per build; at 100 TB
    an inferred-schema read would be a full extra pass. The declared names
    double as a contract check: a reordered/renamed upstream export fails
    the downstream selectExpr instead of silently shifting columns."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns.split(",")])
    return spark.read.schema(schema).option("header", "true").csv(path)


def parse_asylum(spark: SparkSession, fixtures: str = FIXTURES_DIR) -> DataFrame:
    """Asylum dim (ref parse_asylum_data pyspark.py:170-183)."""
    df = (
        _csv(
            spark,
            os.path.join(fixtures, "refugee_and_migrant_data", "*.csv"),
            "country,year,num_arrivals,num_accepted_affirmitavely,num_accepted_defensively",
        )
        .dropDuplicates()
        .withColumn("country", clean_string("country"))
    )
    df = deterministic_id(df, ["country", "year"])
    return conform_schema(df, schemas.ASYLUM)


def parse_climate(
    spark: SparkSession, fixtures: str = FIXTURES_DIR, weekday: str = "abbrev"
) -> DataFrame:
    """Temperature dim (ref parse_country_climate_data pyspark.py:186-207)."""
    df = (
        _csv(
            spark,
            os.path.join(fixtures, "climate_data", "*.csv"),
            "dt,AverageTemperature,AverageTemperatureUncertainty,Country",
        )
        .selectExpr(
            "dt",
            "AverageTemperature as avg_temperature",
            "AverageTemperatureUncertainty as avg_temperature_uncertainty",
            "Country as country",
        )
        .dropDuplicates()
        .withColumn("date", F.to_date("dt"))
        .drop("dt")
    )
    df = date_parts(df, "date", "d", weekday=weekday)
    df = df.withColumnsRenamed(
        {"d_year": "year", "d_month": "month", "d_day": "day", "d_weekday": "weekday"}
    ).withColumn("country", clean_string("country"))
    schema = schemas.TEMPERATURES
    if weekday == "iso":
        schema = T.StructType(
            [
                T.StructField(f.name, T.IntegerType() if f.name == "weekday" else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
    return conform_schema(df, schema)


def parse_visitor(
    spark: SparkSession, fixtures: str = FIXTURES_DIR, weekday: str = "abbrev"
) -> DataFrame:
    """Visitor dim (ref parse_visitor_data pyspark.py:210-254): parquet scan
    → rename/prune → dedup → double→int casts → 3 broadcast code-lookups →
    SAS-epoch dates → date decomposition → canonicalization → typed
    conformance. Inner lookups drop dangling codes (reference semantics,
    SURVEY §7.6)."""
    base = os.path.join(fixtures, "i94_visitor_data")
    # Explicit schemas: a schema-less multiLine JSON read runs a full
    # inference scan first — a second read of the data at scale
    # (sources/readers.py S4 note) — and a schema-less parquet read runs a
    # footer-inference job per build. The SAS schema declares only the
    # eight columns selected below; the scan prunes the rest.
    rd = lambda f, s: spark.read.schema(s).option("multiLine", "true").json(  # noqa: E731
        os.path.join(base, f)
    )
    cit = rd("i94cit_and_i94res.json", "code bigint, region string, valid boolean")
    port = rd("i94port.json", "code string, municipality string, region string")
    visa = rd("i94visa.json", "code bigint, type string")
    df = (
        spark.read.schema(
            "cicid double, i94res double, i94port string, arrdate double, "
            "i94visa double, i94addr string, depdate double, visatype string"
        )
        .parquet(os.path.join(base, "sas_data", "*.parquet"))
        .selectExpr(
            "cicid as id",
            "i94res",
            "i94port",
            "arrdate",
            "i94visa",
            "i94addr as visiting_state",
            "depdate",
            "visatype as visa_type",
        )
        .dropDuplicates()
    )
    for name, dtype in df.dtypes:
        if dtype == "double":
            df = df.withColumn(name, F.col(name).cast(T.IntegerType()))
    df = code_lookup(cit, df, {"region": "country"}, "i94res")
    df = code_lookup(
        port,
        df,
        {"municipality": "port_of_entry_municipality", "region": "port_of_entry_region"},
        "i94port",
    )
    df = code_lookup(visa, df, {"type": "visa_category"}, "i94visa")
    for src, prefix in (("arrdate", "arrival"), ("depdate", "expiry")):
        df = df.withColumn(f"_{prefix}_date", sas_epoch_to_date(src)).drop(src)
        df = date_parts(df, f"_{prefix}_date", prefix, weekday=weekday)
    clean_cols = ["port_of_entry_municipality", "country", "visa_category"]
    if weekday == "abbrev":
        clean_cols += ["arrival_weekday", "expiry_weekday"]
    for c in clean_cols:
        df = df.withColumn(c, clean_string(c))
    return conform_schema(df, schemas.visitor_schema(_wd_type(weekday)))


def parse_worker(
    spark: SparkSession, fixtures: str = FIXTURES_DIR, weekday: str = "abbrev"
) -> DataFrame:
    """Worker dim (ref parse_worker_data pyspark.py:257-303): two CSV
    sources, split/abbreviate on one, state-validity gate on the other,
    union by name, dedup, deterministic ids."""
    base = os.path.join(fixtures, "legal_immigrant_data")
    df1 = (
        _csv(spark, os.path.join(base, "h1b_kaggle.csv"), "CASE_STATUS,EMPLOYER_NAME,YEAR,WORKSITE")
        .selectExpr(
            "CASE_STATUS as case_status",
            "EMPLOYER_NAME as employer_name",
            "YEAR as arrival_year",
            "WORKSITE as worksite",
        )
        .dropDuplicates()
        .withColumn("visa_class", F.lit("H-1B"))
        .withColumn("split", F.split("worksite", ","))
        .withColumn("worksite_city", F.col("split").getItem(0))
        .withColumn("worksite_state", F.col("split").getItem(1))
        .drop("split", "worksite")
    )
    df1 = df1.withColumn("worksite_state", abbreviate_state("worksite_state"))

    df2 = (
        _csv(
            spark,
            os.path.join(base, "H-1B_Disclosure_Data_FY17.csv"),
            "CASE_STATUS,VISA_CLASS,EMPLOYMENT_START_DATE,EMPLOYMENT_END_DATE,"
            "EMPLOYER_NAME,EMPLOYER_CITY,EMPLOYER_STATE,WORKSITE_CITY,WORKSITE_STATE",
        )
        .selectExpr(
            "CASE_STATUS as case_status",
            "VISA_CLASS as visa_class",
            "EMPLOYMENT_START_DATE as employment_start_date",
            "EMPLOYMENT_END_DATE as employment_end_date",
            "EMPLOYER_NAME as employer_name",
            "EMPLOYER_CITY as employer_city",
            "EMPLOYER_STATE as employer_state",
            "WORKSITE_CITY as worksite_city",
            "WORKSITE_STATE as worksite_state",
        )
        .dropDuplicates()
        .filter(
            (F.length("worksite_state") == 2)
            & F.col("worksite_state").isin(*VALID_STATES)
        )
    )
    for src, prefix in (
        ("employment_start_date", "arrival"),
        ("employment_end_date", "expiry"),
    ):
        df2 = df2.withColumn(f"_{prefix}_date", F.to_date(src)).drop(src)
        df2 = date_parts(df2, f"_{prefix}_date", prefix, weekday=weekday)

    merged = union_align([df1, df2]).dropDuplicates()
    natural_key = [
        "case_status",
        "visa_class",
        "employer_name",
        "employer_city",
        "employer_state",
        "worksite_city",
        "worksite_state",
        "arrival_year",
        "arrival_month",
        "arrival_day",
        "expiry_year",
        "expiry_month",
        "expiry_day",
    ]
    # worker is person-level — fact-scale at 100×; partition-offset ids keep
    # the plan free of any partitionless window (VERDICT r1 finding #3)
    merged = deterministic_id(merged, natural_key, fact_scale=True)
    merged = merged.withColumnRenamed("visa_class", "visa_type")
    clean_cols = ["case_status", "employer_name", "worksite_city"]
    if weekday == "abbrev":
        clean_cols += ["arrival_weekday", "expiry_weekday"]
    for c in clean_cols:
        merged = merged.withColumn(c, clean_string(c))
    return conform_schema(merged, schemas.worker_schema(_wd_type(weekday)))


def build_time_and_fact(
    asylum: DataFrame,
    visitor: DataFrame,
    worker: DataFrame,
    weekday: str = "abbrev",
) -> tuple[DataFrame, DataFrame]:
    """Conformed time dimension + fact table accumulation (ref
    extract_time_and_fact_vals pyspark.py:42-75), via union-by-name with
    typed null fill instead of growing positional unions."""
    time_parts, fact_parts = [], []
    for df, i_type in ((asylum, "asylum"), (visitor, "visitor"), (worker, "worker")):
        tagged = df.withColumn("immigration_type", F.lit(i_type))
        if i_type == "asylum":
            time_parts.append(
                tagged.selectExpr(
                    "id", "immigration_type", "cast(year as int) as arrival_year"
                )
            )
            fact_parts.append(
                tagged.selectExpr("id", "country", "immigration_type", "id as time_id")
            )
        else:
            if i_type == "worker":
                tagged = tagged.withColumn("country", F.lit("Unknown"))
            time_parts.append(
                tagged.select(
                    "id",
                    "immigration_type",
                    "arrival_year",
                    "arrival_month",
                    "arrival_day",
                    "arrival_weekday",
                    "expiry_year",
                    "expiry_month",
                    "expiry_day",
                    "expiry_weekday",
                )
            )
            fact_parts.append(
                tagged.selectExpr("id", "country", "immigration_type", "id as time_id")
            )
    time_df = conform_schema(union_align(time_parts), schemas.time_schema(_wd_type(weekday)))
    fact_df = conform_schema(union_align(fact_parts), schemas.FACT)
    return time_df, fact_df


def build_all(
    spark: SparkSession, fixtures: str = FIXTURES_DIR, weekday: str = "abbrev"
) -> dict[str, DataFrame]:
    """Build all six star tables; conformed dims persisted before fan-out."""
    asylum = parse_asylum(spark, fixtures).persist()
    temperatures = parse_climate(spark, fixtures, weekday)
    visitor = parse_visitor(spark, fixtures, weekday).persist()
    worker = parse_worker(spark, fixtures, weekday).persist()
    time_df, fact_df = build_time_and_fact(asylum, visitor, worker, weekday)
    return {
        "temperatures": temperatures,
        "asylum": asylum,
        "visitors": visitor,
        "workers": worker,
        "time": time_df,
        "immigration_facts": fact_df,
    }


def materialize_all(tables: dict[str, DataFrame], action=None) -> dict[str, object]:
    """Materialize every table CONCURRENTLY (one driver thread per table,
    Spark schedules the independent jobs in parallel). The six star tables
    share the persisted conformed dims, so their jobs overlap on cached
    reads instead of queueing behind each other — measured ~2× faster than
    sequential collection at fixture scale, and exactly how a production
    driver submits independent output writes. ``action`` defaults to
    ``collect``; pass e.g. ``lambda df: df.count()`` or a write closure.

    Each worker runs under a clone of the caller's local properties, so
    its jobs carry the caller's job group and description (a pool thread
    starts with none). Every call gets its own clone: Spark SQL writes
    ``spark.sql.execution.id`` into the running thread's properties for
    each job, so one shared object (what ``inheritable_thread_target``
    hands every thread) would be written by concurrent jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context._jsc.sc()
    props = sc.getLocalProperties()
    act = action or (lambda df: df.collect())

    def run(obj, own_props):
        sc.setLocalProperties(own_props)
        return act(obj)

    with ThreadPoolExecutor(max_workers=len(tables) or 1) as ex:
        futs = {name: ex.submit(run, obj, props.clone()) for name, obj in tables.items()}
        return {name: f.result() for name, f in futs.items()}


def run_quality_gates(tables: dict[str, DataFrame], weekday: str = "abbrev") -> dict[str, dict[str, bool]]:
    """Reference DQ gate per table (pyspark.py:22-39,470-472) + typed check."""
    wd = _wd_type(weekday)
    expected = {
        "temperatures": schemas.TEMPERATURES,
        "asylum": schemas.ASYLUM,
        "visitors": schemas.visitor_schema(wd),
        "workers": schemas.worker_schema(wd),
        "time": schemas.time_schema(wd),
        "immigration_facts": schemas.FACT,
    }
    if weekday == "iso":
        tmp = expected["temperatures"]
        expected["temperatures"] = T.StructType(
            [
                T.StructField(f.name, T.IntegerType() if f.name == "weekday" else f.dataType, f.nullable)
                for f in tmp.fields
            ]
        )
    return {name: data_quality_checks(df, expected[name]) for name, df in tables.items()}


def write_lake(tables: dict[str, DataFrame], out_dir: str, fmt: str = "parquet") -> None:
    """Partitioned writes per the reference's specs (pyspark.py:462-469)
    through the sources sink (repartition-before-partitionBy policy lives
    in one place: sources/sinks.py). Writes are submitted concurrently —
    the six tables are independent jobs over the shared persisted dims
    (``materialize_all``); the reference's known bottleneck is exactly
    this write stage (BASELINE.md: S3 write speed), and job-level overlap
    is the free first fix."""
    from ..sources.sinks import write_table

    def _write(name_df):
        name, df = name_df
        write_table(
            df,
            os.path.join(out_dir, name),
            partition_by=schemas.PARTITION_SPECS.get(name),
            fmt=fmt,
        )

    materialize_all(
        {name: (name, df) for name, df in tables.items()}, action=_write
    )
