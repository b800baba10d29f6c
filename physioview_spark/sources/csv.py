"""Generic CSV ingest with column mapping — S6/S7/S9 parity.

- ``load_signal_csv``: reads one or many CSVs, maps arbitrary user headers
  to the canonical schema (Timestamp / <dtype> / X / Y / Z / TEMP), adds an
  explicit ``sample_idx`` (replacing the reference's positional index) and
  a ``subject_id`` from the file name (reference: dashboard/utils.py:437-492).
- Batch mode is ONE multi-file scan with ``input_file_name()`` — Spark's
  partition-parallel read replaces the reference's sequential per-file loop
  (reference: dashboard/callbacks.py:743-892), the single biggest
  scalability win over the original.
- Construction starts no Spark job: column types and the timestamp unit
  come from one bounded (<= 64 KiB) driver-side head read of the first
  data file, not from ``inferSchema`` (a full parse of every file) or a
  median probe job.
- ``infer_unix_unit``: s/ms/µs inference from the median magnitude
  (reference: dashboard/utils.py:308-325).
"""

from __future__ import annotations

import csv
import os
import re
import statistics
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

HEAD_BYTES = 65536

# Unix-epoch magnitude bands; neighbours differ by >= 100x
_UNIX_BANDS = (("s", 1e8, 2e9), ("ms", 1e11, 2e13), ("us", 1e14, 2e16))
_UNIT_SCALE = {"s": 1.0, "ms": 1e3, "us": 1e6}
_INT = re.compile(r"[+-]?\d+")
_NUM = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")


def _unix_unit(median: float | None) -> str | None:
    """The s/ms/us band holding a Unix-timestamp median, else None."""
    if median is not None:
        for unit, lo, hi in _UNIX_BANDS:
            if lo < median < hi:
                return unit
    return None


def infer_unix_unit(df: DataFrame, ts_col: str,
                    sample_rows: int = 10000) -> str | None:
    """Infer Unix timestamp unit (s/ms/us) from the median magnitude of
    a BOUNDED sample of an existing frame (one small job). All three
    unit bands differ by >=100x, so any sample answers as reliably as
    the full column. ``load_signal_csv`` applies the same bands to its
    driver-side head sample instead and runs no job."""
    med = (df.select(F.col(ts_col).cast("double").alias("m"))
           .where(F.col("m").isNotNull())
           .limit(sample_rows)
           .agg(F.median("m").alias("m"))
           .first()["m"])
    return _unix_unit(med)


def _data_files(spark: SparkSession, path: str | list[str]) -> list[str]:
    """Files Spark's scan reads: ``_``/``.``-prefixed names are hidden
    (``_SUCCESS``, ``.crc``), as in Spark's own listing."""
    from physioview_spark.sources import fsio

    files = [u for u in fsio.list_files(spark, path)
             if not u.rsplit("/", 1)[-1].startswith(("_", "."))]
    if not files:
        raise ValueError(f"no CSV data files under {path!r}")
    return files


def _head_rows(spark: SparkSession, uri: str) -> list[list[str]]:
    """Complete CSV records in the first ``HEAD_BYTES`` of a file, header
    first. A gzip file is inflated through the same bounded read, with
    the inflated output capped at ``HEAD_BYTES`` too."""
    from physioview_spark.sources import fsio

    raw = fsio.read_head(spark, uri, HEAD_BYTES)
    whole = len(raw) < HEAD_BYTES
    if raw[:2] == b"\x1f\x8b":
        inflate = zlib.decompressobj(16 + zlib.MAX_WBITS)
        raw = inflate.decompress(raw, HEAD_BYTES)
        whole = inflate.eof
    lines = raw.decode("utf-8-sig", "replace").split("\n")
    if not whole:
        lines = lines[:-1]  # the read may end inside the last record
    return list(csv.reader(ln.rstrip("\r") for ln in lines if ln.strip()))


def _spark_header(names: list[str]) -> list[str]:
    """Column names as Spark derives them from a header row: ``_c<i>``
    for an empty name, ``<name><i>`` for a case-insensitive duplicate."""
    lower = [n.lower() for n in names]
    return [f"_c{i}" if not n else f"{n}{i}" if lower.count(n.lower()) > 1
            else n for i, n in enumerate(names)]


def _ts_type(values: list[str]) -> T.DataType:
    """bigint / double when every sampled value parses as one, else
    string (ISO timestamps, or no data rows to judge by)."""
    if values and all(_INT.fullmatch(v) for v in values):
        return T.LongType()
    if values and all(_NUM.fullmatch(v) for v in values):
        return T.DoubleType()
    return T.StringType()


def _sniff_schema(
    spark: SparkSession, files: list[str], header_map: dict[str, str],
) -> tuple[T.StructType, float | None]:
    """Explicit read schema from the header of the first file and the
    data rows of the first file that has any: mapped value columns are
    double (the canonical type of ``schemas.signal_schema``), the ``ts``
    column is typed by ``_ts_type``, unmapped columns stay string.
    Also returns the median of the sampled ``ts`` values when they are
    numeric, else None."""
    header = rows = None
    for uri in files:
        head = _head_rows(spark, uri)
        if header is None:
            header = _spark_header(head[0] if head else [])
        if len(head) > 1:
            rows = head[1:]
            break
    ts_median = None
    fields = []
    for i, name in enumerate(header):
        canon = header_map.get(name)
        if canon == "ts":
            vals = [r[i].strip() for r in rows or () if len(r) > i
                    and r[i].strip()]
            dtype = _ts_type(vals)
            if not isinstance(dtype, T.StringType):
                ts_median = statistics.median(map(float, vals))
        else:
            dtype = T.StringType() if canon is None else T.DoubleType()
        fields.append(T.StructField(name, dtype, True))
    return T.StructType(fields), ts_median


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def load_signal_csv(
    spark: SparkSession,
    path: str | list[str],
    dtype: str,
    header_map: dict[str, str],
    fs: float | None = None,
    has_ts: bool = True,
    assume_partitioned: bool = False,
) -> DataFrame:
    """Read CSV(s) into the canonical sample frame.

    ``header_map``: user header -> canonical name ('ts', the dtype value
    column, 'x','y','z','temp'). ``sample_idx`` is assigned per subject in
    file order (row_number over a monotonic id — stable for text files).

    Types and the timestamp unit come from a bounded head sample of the
    first data file (``_sniff_schema``), so building the frame starts no
    Spark job; all files of one call share the first file's header.
    Mapped value columns are double. A numeric ``ts`` in a Unix band
    becomes a timestamp in the band's unit, any other numeric ``ts``
    counts seconds from 0 when ``fs`` is given, and a string ``ts`` goes
    through ``to_timestamp``. Raises ``ValueError`` when ``path`` holds
    no data file.

    ``assume_partitioned``: shuffle-free indexing for the file-per-subject
    layout — each scan partition holds whole subjects (true for CSVs
    below ``maxPartitionBytes``), so ``sample_idx`` is a per-partition
    running count per subject via ``mapInPandas`` instead of a
    ``row_number`` over a full-frame exchange. At cohort scale the dense
    frame then reaches the kernels without ever shuffling.
    """
    schema, ts_median = _sniff_schema(
        spark, _data_files(spark, path), header_map)
    raw = spark.read.csv(path, schema=schema, header=True)
    subject = ("regexp_replace(element_at(split(input_file_name(), '/'), -1),"
               " '[.]csv$', '')")
    canon = list(header_map.values())
    df = raw.selectExpr(
        f"{subject} AS subject_id",
        *([] if assume_partitioned
          else ["monotonically_increasing_id() AS __mono"]),
        *(f"{_quote(u)} AS {c}" for u, c in header_map.items()))
    if assume_partitioned:
        import numpy as np

        out_schema = ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
            + ["sample_idx long"])

        def assign(batches):
            counters: dict[str, int] = {}
            for pdf in batches:
                pdf = pdf.reset_index(drop=True)
                idx = np.empty(len(pdf), dtype=np.int64)
                for subj, grp in pdf.groupby("subject_id", sort=False):
                    c0 = counters.get(subj, 0)
                    n = len(grp)
                    idx[grp.index.to_numpy()] = np.arange(c0, c0 + n)
                    counters[subj] = c0 + n
                pdf["sample_idx"] = idx
                yield pdf

        df = df.mapInPandas(assign, out_schema)
    else:
        df = df.selectExpr(
            "subject_id", *canon,
            "row_number() OVER (PARTITION BY subject_id ORDER BY __mono)"
            " - 1 AS sample_idx")

    ts = "ts"
    if has_ts and "ts" in canon:
        unit = _unix_unit(ts_median)
        if ts_median is None:
            ts = "to_timestamp(ts)"
        elif unit is not None:
            ts = ("timestamp_micros(CAST(CAST(ts AS DOUBLE)"
                  f" / {_UNIT_SCALE[unit]!r}D * 1000000.0D AS BIGINT))")
        elif fs:
            # numeric but not unix: treat as seconds-elapsed at fs
            ts = ("timestamp_micros("
                  "CAST(CAST(ts AS DOUBLE) * 1000000.0D AS BIGINT))")
    front = ["subject_id", "sample_idx"] + (["ts"] if "ts" in canon else [])
    rest = [c for c in canon if c not in front]
    return df.selectExpr(*(f"{ts} AS ts" if c == "ts" else c for c in front),
                         *rest)


def write_stage(df: DataFrame, base_dir: str, stage: str,
                fmt: str = "parquet") -> str:
    """Stage materialization sink (replaces the reference's per-subject
    temp CSVs, reference: dashboard/callbacks.py:859-888): one partitioned
    parquet dataset per stage, partitioned by subject for pruned re-reads."""
    out = os.path.join(base_dir, stage)
    (df.write.mode("overwrite").partitionBy("subject_id")
     .format(fmt).save(out))
    return out


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
) -> str:
    """Bucketed-table sink for co-located joins (SURVEY §7 scale path).

    Writing both sides of a recurring big-big join bucketed on the join
    key lets Spark plan a sort-merge join with NO Exchange on either
    side — at 100 TB the shuffle this avoids is the dominant cost of the
    join. Bucket pruning also serves point lookups on the bucket key.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
    return table


def is_valid_csv_member(name: str) -> bool:
    """S8 parity: archive-member CSV validity (reference:
    dashboard/utils.py:280-287) — .csv suffix, not a macOS resource fork,
    not hidden, not a directory entry."""
    base = name.rsplit("/", 1)[-1]
    return (
        name.endswith(".csv")
        and not name.startswith(("__MACOSX/", "."))
        and not base.startswith(".")
        and not name.endswith("/")
    )


def probe_csv_headers(spark: SparkSession, path: str) -> list[str]:
    """S8 parity: header row of a CSV without a full scan (reference:
    dashboard/utils.py:422-428) — one bounded head read, no Spark job."""
    line = read_first_line(spark, path)
    if not line:
        return []
    return [h.strip() for h in line.split(",")]


def list_batch_files(spark: SparkSession, path: str | list[str],
                     suffix: str | None = None) -> list[str]:
    """Driver-side file enumeration through the Hadoop FileSystem API —
    one metadata RPC per path/glob, any scheme Spark can read (file, hdfs,
    s3a, ...). Directories expand one level, matching ``spark.read``."""
    from physioview_spark.sources import fsio

    return fsio.list_files(spark, path, suffix=suffix)


def read_first_line(spark: SparkSession, uri: str,
                    max_bytes: int = 65536) -> str:
    """First line of a file with a BOUNDED read (<= ``max_bytes``) on
    every scheme — local files via open(), remote via one positioned
    Hadoop FileSystem read. Never a Spark job: validating thousands of
    remote CSVs costs O(files) stream opens, not O(files) job-launch
    round trips (and never a full-file pass)."""
    from physioview_spark.sources import fsio

    head = fsio.read_head(spark, uri, max_bytes)
    return head.split(b"\n", 1)[0].decode("utf-8", "replace").rstrip("\r")


def validate_batch_headers(
    spark: SparkSession, path: str | list[str]
) -> tuple[bool, dict[str, list[str]]]:
    """S7 parity: verify header homogeneity across a batch of CSVs
    (reference: dashboard/callbacks.py:455-462).

    Cost model: one FileSystem metadata listing + one bounded (<=64 KiB)
    head read per FILE — independent of corpus bytes. The previous
    implementation scanned and shuffled every row of every CSV to pick
    line 1 (and its first-row-per-input_file_name ordering was unsound
    for files split across partitions); at 100 TB that scan, not the
    validation, would dominate the whole ingest."""
    headers: dict[str, list[str]] = {}
    for uri in list_batch_files(spark, path):
        line = read_first_line(spark, uri)
        headers[uri] = [h.strip() for h in line.split(",")]
    uniq = {tuple(v) for v in headers.values()}
    return len(uniq) <= 1, headers
