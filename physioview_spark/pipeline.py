"""Config-driven pipeline runner — the reference dashboard's "execute"
step (§3.1, ``run_pipeline`` at dashboard/callbacks.py:647-1120) as one
library call.

A ``PipelineConfig`` (config.py, JSON-parity with the reference's saved
parameter files) drives ingest → kernel annotation → IBI → metric
frames. The whole run is ONE lazy Spark DAG: building it starts no Spark
job (CSV types and units come from a bounded head read), and the
annotated and metric frames are persisted so every returned frame reads
them instead of re-deriving them. The reference's per-subject Python
loop and temp-CSV handoffs become partition parallelism and (optional)
parquet stage materialization.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from physioview_spark.config import PipelineConfig

CARDIAC_DTYPES = {"ECG", "PPG", "BVP"}


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    path: str | None = None,
    samples: DataFrame | None = None,
    temp: DataFrame | None = None,
    stage_dir: str | None = None,
    cache_annotated: bool = True,
) -> dict[str, DataFrame]:
    """Execute the configured pipeline; returns the per-stage frames.

    Cardiac (ECG/PPG/BVP): annotate (filter → detect → artifacts, one
    Arrow pass) → IBI attach → segmented or rolling SQA metrics →
    summary. EDA: annotate (filter → decompose → SCR) → quality metrics →
    summary. ``path`` ingests CSV(s) via the config's header map;
    ``samples`` accepts a pre-built canonical frame. ``stage_dir``
    materializes the annotated stage to parquet (the reference's
    temp-CSV checkpoints, and the guard against plan re-expansion in
    long chains); without it ``cache_annotated`` persists the annotated
    frame so downstream metric operators (which reference it several
    times) run the Arrow kernel pass ONCE, not once per self-join —
    measured 2x end-to-end on a 1 h @ 1024 Hz recording — and persists
    the metric frame that ``summary`` aggregates, so collecting
    ``metrics`` and then ``summary`` derives the metrics once. The
    caller owns both persists: release them with
    ``out["samples"].unpersist()`` and ``out["metrics"].unpersist()``.
    """
    if (path is None) == (samples is None):
        raise ValueError("exactly one of path/samples required")
    dtype = config.dtype.upper()
    source = (config.source or "csv").lower()

    if samples is None:
        if source == "actiwave":
            # §3.3 device one-shot: EDF -> ECG frame (fs from the file)
            from physioview_spark.sources.edf import load_actiwave

            samples = load_actiwave(spark, path)["ecg"]
        elif source == "e4":
            # E4 archive: BVP drives the cardiac path, EDA (+TEMP via
            # interp) the EDA path (reference Empatica.compute_sqa,
            # physioview/physioview.py:605-711)
            from physioview_spark.sources.empatica import load_empatica

            streams = load_empatica(spark, path)
            if dtype in CARDIAC_DTYPES:
                samples = streams["bvp"]
            else:
                samples = streams["eda"]
                if temp is None:
                    temp = streams["temp"]
        else:
            from physioview_spark.sources.csv import load_signal_csv

            value_col = "eda" if dtype == "EDA" else dtype.lower()
            header_map = config.headers or {"Timestamp": "ts",
                                            dtype: value_col}
            samples = load_signal_csv(
                spark, path, value_col, header_map=header_map,
                fs=config.fs)

    # Device sources carry the true rate in the file header/archive; it
    # overrides config.fs so a 1024 Hz EDF run with the default 500 Hz
    # config can't silently halve every IBI (reference reads fs from the
    # device file: physioview/physioview.py Actiwave/Empatica loaders;
    # config fs parameterizes only the CSV path). When we loaded from
    # ``path`` the rate comes from bounded driver-side HEADER reads —
    # never a Spark job, never a second decode of the corpus; the eager
    # distinct() probe remains only for caller-supplied device frames
    # whose files we never saw.
    fs = float(config.fs)
    if source in ("actiwave", "e4"):
        if path is not None:
            if source == "actiwave":
                from physioview_spark.sources.edf import probe_actiwave_fs

                probed = probe_actiwave_fs(spark, path, label="ECG")
            else:
                from physioview_spark.sources.empatica import (
                    probe_empatica_fs,
                )

                stream = "bvp" if dtype in CARDIAC_DTYPES else "eda"
                probed = probe_empatica_fs(spark, path, stream=stream)
            rates = sorted(set(probed.values()))
        elif "fs" in samples.columns:
            rates = sorted(
                r["fs"] for r in samples.select("fs").distinct().collect()
            )
        else:
            rates = []
        if len(rates) > 1:
            raise ValueError(
                f"mixed sampling rates in one run: {rates}; run per-rate "
                "or use annotate_cardiac(fs=None) on the combined frame"
            )
        if rates:
            fs = float(rates[0])

    out: dict[str, DataFrame] = {}
    persist = stage_dir is None and cache_annotated
    if dtype in CARDIAC_DTYPES:
        from physioview_spark.functions.spark_kernels import annotate_cardiac
        from physioview_spark.operators.ibi import attach_ibis
        from physioview_spark.operators.metrics import (
            cardiac_summary, compute_metrics, compute_metrics_rolling,
        )

        value_col = dtype.lower() if dtype != "BVP" else "bvp"
        detector = config.beat_detector
        if dtype in ("PPG", "BVP") and detector == "manikandan":
            detector = "adaptive_threshold"  # reference PPG default path
        annotated = annotate_cardiac(
            samples, fs=fs, dtype=dtype, value_col=value_col,
            detector=detector,
            artifact_method=config.artifact_method,
            artifact_tol=config.artifact_tol,
            filter_on=config.filter_on,
            initial_hr=config.initial_hr,
        )
        annotated = _keep(
            _stage(spark, annotated, stage_dir, "annotated"), persist)
        out["samples"] = annotated
        out["ibi"] = attach_ibis(annotated, fs=fs)
        with_ts = "ts" in annotated.columns
        if config.rolling_window:
            out["metrics"] = compute_metrics_rolling(
                annotated, fs=fs,
                rolling_window=config.rolling_window,
                rolling_step=config.rolling_step,
                seg_size=config.seg_size, min_hr=config.min_hr,
                with_ts=with_ts)
        else:
            out["metrics"] = _keep(compute_metrics(
                annotated, fs=fs, seg_size=config.seg_size,
                min_hr=config.min_hr, with_ts=with_ts), persist)
            out["summary"] = cardiac_summary(out["metrics"])
    elif dtype == "ACC":
        from physioview_spark.operators.acc import (
            compute_auc, compute_magnitude,
        )

        if "magnitude" not in samples.columns:
            samples = compute_magnitude(samples)
        out["samples"] = samples
        out["metrics"] = compute_auc(
            samples, fs=fs, seg_size=config.seg_size,
            rolling_window=config.rolling_window,
            rolling_step=config.rolling_step)
    elif dtype == "EDA":
        from physioview_spark.functions.spark_kernels import annotate_eda
        from physioview_spark.operators.eda_metrics import (
            compute_eda_metrics, eda_summary,
        )

        if temp is not None and "temp" not in samples.columns:
            # K22: TEMP stream (own rate) linearly interpolated onto the
            # EDA grid, replacing the reference's _equalize_temp
            # (reference: pipeline/SQA.py:2436-2447)
            from physioview_spark.operators.asof import interp_join

            samples = interp_join(
                samples, temp.select("subject_id", "sample_idx", "temp"),
                on="sample_idx", value_col="temp", by="subject_id",
                out_col="temp")
        annotated = annotate_eda(
            samples, fs=fs, scr_amp_min=config.scr_amp_min)
        annotated = _keep(
            _stage(spark, annotated, stage_dir, "annotated"), persist)
        out["samples"] = annotated
        out["metrics"] = _keep(compute_eda_metrics(
            annotated.withColumn("eda", F.col("filtered")),
            fs=fs, seg_size=config.eda_seg_size,
            rolling_window=config.rolling_window,
            rolling_step=config.rolling_step,
            eda_min=config.eda_min, eda_max=config.eda_max,
            eda_max_slope=config.eda_max_slope,
            temp_min=config.temp_min, temp_max=config.temp_max), persist)
        out["summary"] = eda_summary(out["metrics"], samples=annotated)
    else:
        raise ValueError(f"unsupported dtype: {config.dtype}")
    return out


def _keep(df: DataFrame, persist: bool) -> DataFrame:
    """Persist a CALLER-facing frame (MEMORY_AND_DISK) when ``persist``.

    A bare persist, NOT ``cache.pin``: the pin registry holds
    operator-internal frames only, and a ``release_pinned()`` /
    ``pinned_frames()`` scope exit (e.g. tools/check_oracle.py between
    queries) must not evict a cache the caller asked for and still owns
    (ADVICE r17 item 3). The caller releases it with ``unpersist()``."""
    return df.persist(StorageLevel.MEMORY_AND_DISK) if persist else df


def _stage(spark, df, stage_dir, name):
    if stage_dir is None:
        return df
    from physioview_spark.sources.csv import write_stage

    return spark.read.parquet(write_stage(df, stage_dir, name))
