"""Shared helpers for the engine's declared query suite."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# Pinned parquet results for queries whose semantics are not
# SQL-expressible but whose inputs are fully deterministic and
# sf-independent (synthetic kernel signals, fake multimodal codecs).
# Regenerate intentionally with tools/make_fixture_oracles.py after a
# kernel behavior change; the oracle then guards against silent
# regressions the same way the SQL twins do.
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "oracle",
)


def fixture_oracle(name: str) -> str | None:
    """DuckDB SQL reading the pinned fixture for ``name``, or None when no
    fixture has been generated (the query then has no oracle, which
    tests/test_registry_smoke.py rejects)."""
    d = os.path.join(FIXTURE_DIR, name)
    if not os.path.isdir(d):
        return None
    return f"SELECT * FROM read_parquet('{d}/*.parquet')"


# Deterministic INPUT tables (committed parquet, generated by
# tools/make_input_fixtures.py) for kernel queries whose math IS
# SQL-expressible: both the Spark query and its DuckDB twin read the
# same file, so the oracle independently RECOMPUTES the result instead
# of comparing against a pinned engine snapshot.
INPUT_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "inputs",
)


def input_fixture(name: str) -> str:
    return os.path.join(INPUT_FIXTURE_DIR, f"{name}.parquet")


def _scan_splits_estimate(path: str, max_partition_bytes: int) -> int:
    """Cheap (no Spark) UPPER estimate of a parquet scan's task count:
    max over file count and total bytes / split size. Parquet splits
    cannot cross row groups, so a single-row-group file yields ONE task
    no matter its size — the estimate never under-counts the
    single-file case this gates on."""
    try:
        if os.path.isfile(path):
            n_files, total = 1, os.path.getsize(path)
        else:
            n_files = total = 0
            with os.scandir(path) as it:
                for f in it:
                    if f.name.endswith(".parquet"):
                        n_files += 1
                        total += f.stat().st_size
    except OSError:
        return 1 << 30  # unknown layout: assume wide, never fan out
    return max(n_files, (total + max_partition_bytes - 1)
               // max_partition_bytes)


def read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table; tolerate TIMESTAMP(NANOS) parquet columns.

    The events table is written with nanosecond timestamps, which Spark's
    parquet reader only accepts as LongType under the legacy flag — so set
    it defensively (the driver's session may not have it) and convert any
    nanos-long ``ts`` back to a microsecond timestamp (integer arithmetic;
    DuckDB likewise truncates ns → µs on read).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos long -> naive (NTZ) microsecond timestamp, session-tz-proof
        df = df.withColumn(
            "ts",
            F.timestamp_add(
                "MICROSECOND",
                F.expr("ts div 1000"),
                F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            ),
        )
    return df


def read_fanned(spark: SparkSession, sf_dir: str, name: str,
                fan_out: str) -> DataFrame:
    """:func:`read` plus a conditional scan fan-out (r18, guide §2.5
    "input skew: one huge unsplittable file"): hash-repartition by key
    column ``fan_out`` WHEN the scan would otherwise run on fewer tasks
    than the session has cores — the driver corpora are single-file
    single-row-group parquet, so every scan is ONE task and a CPU-heavy
    first stage (tokenize / shingle+md5 / vector explode) serializes on
    one core while the rest idle. Deterministic (hash of a key column,
    not round-robin), and SCALE-ADAPTIVE: at production layouts the
    file count alone exceeds the core count, the condition is false,
    and the plan is byte-identical to the plain read — no shuffle is
    added where the scan is already parallel.
    """
    df = read(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    try:
        max_pb = int(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
    except ValueError:
        max_pb = 134217728  # human-readable conf value ("128m")
    if _scan_splits_estimate(f"{sf_dir}/{name}.parquet", max_pb) < cores:
        df = df.repartition(cores, F.col(fan_out))
    return df


def epoch_s(col: Column | str) -> Column:
    """Naive epoch seconds (truncated) of an NTZ timestamp — matches
    DuckDB ``floor(epoch(ts))`` regardless of the Spark session timezone."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "SECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
    )


def ntz_lit(s: str) -> Column:
    """Timezone-independent timestamp literal for comparisons against the
    driver's (NTZ) parquet timestamp columns."""
    return F.lit(s).cast("timestamp_ntz")


def safe_div(num: Column, den: Column) -> Column:
    """ANSI-safe division: null when the denominator is zero.

    The driver may run queries under ``spark.sql.ansi.enabled=true``
    (the Spark 4 default), where bare division by zero raises.
    """
    return num / F.nullif(den, F.lit(0))


# Events-as-signal mapping used by the SQA-shaped queries: the driver's
# `events` table plays the role of an annotated sample frame — `user_id` is
# the subject, epoch-seconds since 2024-01-01 the sample index (fs = 1 Hz),
# 'purchase' events are beats, 'error' events artifacts.
EPOCH0 = "2024-01-01 00:00:00"


def events_as_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    sec = F.timestamp_diff(
        "SECOND", F.lit(EPOCH0).cast("timestamp_ntz"), F.col("ts")
    )
    return (
        ev.withColumn("subject_id", F.col("user_id").cast("string"))
        .withColumn("sample_idx", sec.cast("long"))
        .withColumn("beat", F.when(F.col("event_type") == "purchase", 1.0))
        .withColumn("artifact", F.when(F.col("event_type") == "error", 1.0))
    )
