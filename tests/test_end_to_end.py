"""End-to-end pipeline parity runs (SURVEY §5 plan item 3): raw files in
→ SQA metric tables out, through the public engine API only — the same
stage order as the reference dashboard (§3.1) and notebook (§3.2) flows.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def synth_ecg(fs=250.0, seconds=120, hr_bpm=72, seed=0):
    """Deterministic synthetic ECG: Gaussian QRS bumps at known beats."""
    rng = np.random.default_rng(seed)
    n = int(fs * seconds)
    t = np.arange(n) / fs
    sig = 0.05 * np.sin(2 * np.pi * 0.3 * t)  # baseline wander
    beat_period = 60.0 / hr_bpm
    beats = []
    bt = 0.5
    while bt < seconds - 0.5:
        beats.append(bt)
        bt += beat_period * (1 + 0.02 * rng.standard_normal())
    for b in beats:
        sig += 1.2 * np.exp(-((t - b) ** 2) / (2 * 0.012 ** 2))
    sig += 0.03 * rng.standard_normal(n)
    return sig, np.array(beats)


class TestCardiacCsvPipeline:
    """§3.2 notebook flow: CSV → filter → detect → artifacts → IBI →
    segment metrics → summary, everything through the library."""

    @pytest.fixture(scope="class")
    def csv_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("cohort")
        for s in range(3):
            sig, _ = synth_ecg(seed=s)
            ts = 1700000000.0 + np.arange(len(sig)) / 250.0
            pd.DataFrame({"time": ts, "ecg_lead1": sig}).to_csv(
                d / f"subject{s}.csv", index=False)
        return str(d)

    def test_full_pipeline(self, spark, csv_dir):
        from physioview_spark.functions.spark_kernels import (
            annotate_cardiac,
        )
        from physioview_spark.operators import (
            cardiac_summary, compute_ibis, compute_metrics,
        )
        from physioview_spark.sources import load_signal_csv

        fs = 250.0
        # S6/S7: one multi-file scan, subjects from file names
        samples = load_signal_csv(
            spark, csv_dir, "ecg",
            header_map={"time": "ts", "ecg_lead1": "ecg"})
        assert samples.select("subject_id").distinct().count() == 3

        # K4 + K11 + Q1-Q3 in one Arrow pass per subject
        annotated = annotate_cardiac(
            samples, fs=fs, value_col="ecg", detector="manikandan")
        annotated = annotated.cache()

        beats_per_subject = (
            annotated.where(F.col("beat") == 1)
            .groupBy("subject_id").count().collect())
        # 72 bpm for 119 s of usable span -> ~140 beats
        for r in beats_per_subject:
            assert 120 <= r["count"] <= 160, r

        # W1: IBIs near the 833 ms period
        ibis = compute_ibis(
            annotated.where(F.col("beat") == 1).select(
                "subject_id", "sample_idx"), fs=fs)
        stats = ibis.agg(F.avg("ibi_ms"), F.stddev("ibi_ms")).first()
        assert abs(stats[0] - 60000.0 / 72) < 40

        # A1-A3 + P7
        metrics = compute_metrics(annotated, fs=fs, seg_size=30,
                                  with_ts=False)
        mp = metrics.orderBy("subject_id", "segment").toPandas()
        assert set(mp["subject_id"]) == {"subject0", "subject1", "subject2"}
        assert (mp["n_missing"] == np.maximum(
            0, mp["n_expected"] - mp["n_detected"])).all()
        # clean synthetic signal: no segment should miss many beats
        assert (mp["pct_missing"].fillna(0) < 20).all()

        # A9 rollup
        summary = cardiac_summary(metrics).orderBy("subject_id").toPandas()
        assert len(summary) == 3
        assert (summary["n_segments"] == 4).all()

    def test_downsample_render_path(self, spark, csv_dir):
        """K21: decimation to the ~250->125 Hz render grid preserves the
        beat count within rounding (SURVEY §5 property)."""
        from physioview_spark.dsp.apply import decimate_fir
        from physioview_spark.functions.spark_kernels import (
            annotate_cardiac, apply_kernel_chunked,
        )
        from physioview_spark.sources import load_signal_csv

        samples = load_signal_csv(
            spark, csv_dir + "/subject0.csv", "ecg",
            header_map={"time": "ts", "ecg_lead1": "ecg"})
        annotated = annotate_cardiac(
            samples, fs=250.0, value_col="ecg", detector="manikandan")
        n_beats = annotated.where(F.col("beat") == 1).count()

        ds = (apply_kernel_chunked(
            samples, lambda x: np.repeat(decimate_fir(x, 2), 2)[:len(x)],
            "ecg", "ecg_ds", chunk_len=8192, halo=512)
            .where(F.col("sample_idx") % 2 == 0))
        assert ds.count() == -(-samples.count() // 2)
        # beat indices remap: rint(ix/2) unique count within ±1
        remapped = (annotated.where(F.col("beat") == 1)
                    .select(F.round(F.col("sample_idx") / 2).alias("ix"))
                    .distinct().count())
        assert abs(remapped - n_beats) <= 1


class TestBeatEditRoundTrip:
    """§3.1 step 5: export for the editor, apply edits, recompute SQA."""

    def test_export_edit_recompute(self, spark, tmp_path):
        from physioview_spark.functions.spark_kernels import (
            annotate_cardiac,
        )
        from physioview_spark.operators import (
            compute_metrics, null_boundary_values,
        )
        from physioview_spark.operators.ibi import attach_ibis
        from physioview_spark.sources import (
            process_beat_edits, read_beat_edits, write_beat_editor_json,
        )

        fs = 250.0
        sig, true_beats = synth_ecg(seconds=60, seed=9)
        pdf = pd.DataFrame({
            "subject_id": "p1",
            "sample_idx": np.arange(len(sig), dtype=np.int64),
            "ecg": sig,
        })
        samples = annotate_cardiac(
            spark.createDataFrame(pdf), fs=fs, value_col="ecg",
            detector="manikandan")

        # S13 export
        out = str(tmp_path / "editor")
        write_beat_editor_json(samples, out, fs=fs, signal_col="filtered",
                               ts_col=None)
        back = spark.read.json(out + "/subject_id=p1")
        assert back.count() == len(sig)

        # editor produces edits (sample mode): delete 2nd beat, add one
        beats = sorted(
            r["sample_idx"]
            for r in samples.where(F.col("beat") == 1).collect())
        edits_path = str(tmp_path / "p1_edited.json")
        with open(edits_path, "w") as f:
            f.write(json.dumps(
                {"x": float(beats[1]), "editType": "DELETE"}) + "\n")
            f.write(json.dumps(
                {"x": float(beats[-1] + 200), "editType": "ADD"}) + "\n")
            f.write(json.dumps(
                {"from": float(beats[4] - 10), "to": float(beats[5] + 10),
                 "editType": "UNUSABLE"}) + "\n")

        # S14 + Q5
        edits = read_beat_edits(spark, edits_path)
        edited = process_beat_edits(samples, edits, use_ts=False)
        ep = edited.orderBy("sample_idx").toPandas()
        n_final = int(ep["edited"].notna().sum())
        # Reference-parity quirk: merge_asof(nearest, tolerance=1) tags
        # every sample within the tolerance window, so one ADD yields 3
        # edited rows (x-1, x, x+1) while DELETE only clears the one row
        # that actually held a beat (reference: physioview.py:1799-1830).
        assert int(ep["added_beat"].notna().sum()) == 3
        assert n_final == len(beats) - 1 - 2 + 3
        assert np.isnan(ep.loc[beats[1], "edited"])      # deleted
        assert np.isnan(ep.loc[beats[4], "edited"])      # unusable
        assert np.isnan(ep.loc[beats[5], "edited"])      # unusable

        # S11: materialize the edited stage before recomputation — the
        # engine's checkpoint pattern (multi-reference operators like
        # get_missing would otherwise re-expand the whole upstream
        # edit-application lineage once per self-join)
        from physioview_spark.sources import write_stage

        refreshed = (edited
                     .withColumn("beat", F.col("edited"))
                     .select("subject_id", "sample_idx", "beat",
                             "artifact", "unusable"))
        stage = write_stage(refreshed, str(tmp_path), "edited")
        refreshed = spark.read.parquet(stage)

        # Q7 + recompute metrics on the edited beat train
        with_ibis = attach_ibis(refreshed, fs=fs)
        cleaned = null_boundary_values(with_ibis)
        m = compute_metrics(
            cleaned.drop("unusable"), fs=fs, seg_size=30, with_ts=False)
        assert m.count() == 2
        assert m.where(F.col("n_detected") <= 0).count() == 0


class TestConfigDrivenPipeline:
    def test_cardiac_from_config(self, spark, tmp_path):
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline

        for s in range(2):
            sig, _ = synth_ecg(seconds=90, seed=20 + s)
            ts = 1700000000.0 + np.arange(len(sig)) / 250.0
            pd.DataFrame({"t": ts, "v": sig}).to_csv(
                tmp_path / f"r{s}.csv", index=False)

        cfg = PipelineConfig(dtype="ECG", fs=250.0, seg_size=30,
                             headers={"t": "ts", "v": "ecg"})
        # config JSON round-trip drives the run (S10 parity)
        cfg = PipelineConfig.from_json(cfg.to_json())
        frames = run_pipeline(spark, cfg, path=str(tmp_path),
                              stage_dir=str(tmp_path / "stages"))
        assert set(frames) == {"samples", "ibi", "metrics", "summary"}
        m = frames["metrics"].toPandas()
        assert set(m["subject_id"]) == {"r0", "r1"}
        assert (m["n_detected"] > 20).all()
        s = frames["summary"].toPandas()
        assert len(s) == 2 and (s["n_segments"] == 3).all()

    def test_csv_run_starts_no_job_and_computes_metrics_once(
            self, spark, tmp_path, jobs_started):
        """Building a CSV run starts no Spark job (types and units come
        from a bounded head read), and ``summary`` reads the persisted
        ``metrics`` instead of re-deriving the metric plan."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.operators import cardiac_summary
        from physioview_spark.pipeline import run_pipeline

        for s in range(2):
            sig, _ = synth_ecg(seconds=60, seed=30 + s)
            ts = 1700000000.0 + np.arange(len(sig)) / 250.0
            pd.DataFrame({"t": ts, "v": sig}).to_csv(
                tmp_path / f"c{s}.csv", index=False)
        cfg = PipelineConfig(dtype="ECG", fs=250.0, seg_size=30,
                             headers={"t": "ts", "v": "ecg"})
        frames, n_jobs = jobs_started(
            lambda: run_pipeline(spark, cfg, path=str(tmp_path)))
        assert n_jobs == 0
        try:
            metrics = frames["metrics"].collect()
            summary, n_jobs = jobs_started(frames["summary"].collect)
            assert n_jobs <= 1
            # the same rollup as a summary over the unpersisted frame
            fresh = cardiac_summary(spark.createDataFrame(
                metrics, frames["metrics"].schema)).collect()
            key = lambda r: r.subject_id  # noqa: E731
            assert sorted(summary, key=key) == sorted(fresh, key=key)
            assert [r.n_segments for r in summary] == [2, 2]
        finally:
            frames["samples"].unpersist()
            frames["metrics"].unpersist()

    def test_eda_from_config(self, spark):
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline

        rng = np.random.default_rng(4)
        fs = 4.0
        n = int(fs * 600)
        tonic = 2.0 + 0.3 * np.sin(np.arange(n) / n * 2 * np.pi)
        eda = tonic + 0.02 * rng.standard_normal(n)
        # add a few Bateman-ish SCR bumps
        t = np.arange(n) / fs
        for p in (60, 180, 300, 420):
            dt_ = t - p
            eda += 0.5 * np.where(dt_ > 0,
                                  np.exp(-dt_ / 8.0) - np.exp(-dt_ / 1.2), 0)
        pdf = pd.DataFrame({
            "subject_id": "e1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "eda": eda,
        })
        cfg = PipelineConfig(dtype="EDA", fs=fs, eda_seg_size=120,
                             rolling_window=None)
        frames = run_pipeline(spark, cfg,
                              samples=spark.createDataFrame(pdf))
        m = frames["metrics"].toPandas()
        assert len(m) == 5  # 600s / 120s
        assert (m["pct_valid"] > 90).all()
        summ = frames["summary"].toPandas()
        assert len(summ) == 1
        assert abs(summ.iloc[0]["median_tonic_scl"] - 2.0) < 0.5

    def test_eda_with_temp_stream(self, spark):
        """K22 path: a shorter TEMP stream interp/extrapolated onto the
        EDA grid feeds rule 3 (temp_out_of_range)."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline

        fs = 4.0
        n = int(fs * 480)
        pdf = pd.DataFrame({
            "subject_id": "e2",
            "sample_idx": np.arange(n, dtype=np.int64),
            "eda": np.full(n, 5.0),
        })
        # temp: shorter than eda, cold (= out of range) in its 2nd half
        m = n - 200
        tvals = np.where(np.arange(m) < m // 2, 33.0, 10.0)
        tdf = pd.DataFrame({
            "subject_id": "e2",
            "sample_idx": np.arange(m, dtype=np.int64),
            "temp": tvals,
        })
        cfg = PipelineConfig(dtype="EDA", fs=fs, eda_seg_size=60,
                             rolling_window=None)
        frames = run_pipeline(
            spark, cfg, samples=spark.createDataFrame(pdf),
            temp=spark.createDataFrame(tdf))
        assert "temp" in frames["samples"].columns
        mtr = frames["metrics"].orderBy("segment").toPandas()
        assert "temp_out_of_range" in mtr.columns
        # early segments warm -> valid; later segments cold -> flagged
        assert mtr.iloc[0]["temp_out_of_range"] == 0
        assert mtr.iloc[-1]["temp_out_of_range"] > 0
        assert (mtr.iloc[-1]["pct_valid"] or 0) < 50

    def test_ppg_rolling_from_config(self, spark):
        """PPG branch (adaptive_threshold remap) + rolling-window metrics."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline

        fs = 64.0
        n = int(fs * 300)
        rng = np.random.default_rng(3)
        t = np.arange(n) / fs
        # pulse-like waveform at ~70 bpm
        phase = 2 * np.pi * np.cumsum(np.full(n, 70 / 60.0 / fs))
        bvp = (np.sin(phase) + 0.3 * np.sin(2 * phase)
               + 0.05 * rng.standard_normal(n))
        pdf = pd.DataFrame({
            "subject_id": "b1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "bvp": bvp,
        })
        cfg = PipelineConfig(dtype="BVP", fs=fs, rolling_window=60,
                             rolling_step=15, min_hr=40.0)
        frames = run_pipeline(spark, cfg,
                              samples=spark.createDataFrame(pdf))
        m = frames["metrics"].orderBy("moving_window").toPandas()
        assert "moving_window" in m.columns and len(m) >= 15
        full = m[m["n_detected"] > 0]
        # ~70 beats in each full 60s window
        assert (full["n_detected"].between(50, 90)).mean() > 0.8

    def test_e4_source_dispatch(self, spark, tmp_path):
        """§3.3: E4 archive straight through run_pipeline (BVP cardiac
        path and EDA path with the archive's own TEMP stream)."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline
        from physioview_spark.sources import write_e4_zip

        rng = np.random.default_rng(8)
        n_sec = 240
        fs_bvp = 64.0
        phase = 2 * np.pi * np.cumsum(
            np.full(int(fs_bvp * n_sec), 72 / 60.0 / fs_bvp))
        bvp = np.sin(phase) + 0.05 * rng.standard_normal(len(phase))
        eda = 2.0 + 0.1 * np.sin(np.arange(4 * n_sec) / 40.0)
        temp = 33.0 + rng.normal(0, 0.05, 4 * n_sec)
        p = str(tmp_path / "dev.zip")
        write_e4_zip(p, 1700000000.0, bvp=bvp, eda=eda, temp=temp,
                     hr=np.full(n_sec, 72.0),
                     ibi=np.column_stack([np.cumsum(np.full(9, .8)),
                                          np.full(9, .8)]))

        cardiac = run_pipeline(
            spark, PipelineConfig(source="e4", dtype="BVP", fs=fs_bvp,
                                  seg_size=60), path=p)
        cm = cardiac["metrics"].toPandas()
        assert len(cm) == 4
        assert (cm["n_detected"].between(55, 90)).all()

        eda_out = run_pipeline(
            spark, PipelineConfig(source="e4", dtype="EDA", fs=4.0,
                                  eda_seg_size=60), path=p)
        em = eda_out["metrics"].toPandas()
        assert len(em) == 4
        assert "pct_temp_out_of_range" in em.columns
        assert (em["pct_valid"] > 90).all()

    def test_device_fs_overrides_config(self, spark, tmp_path):
        """Device-source fs wiring: a 1024 Hz EDF through run_pipeline with
        the DEFAULT config (fs=500) must yield the same IBIs as a direct
        fs=1024 run — the file's rate wins over config.fs, so device
        ingests can't silently produce ~2x-wrong IBIs/HR."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.functions.spark_kernels import annotate_cardiac
        from physioview_spark.operators.ibi import attach_ibis
        from physioview_spark.pipeline import run_pipeline
        from physioview_spark.sources import load_actiwave, write_edf_bytes

        fs = 1024
        sig, _ = synth_ecg(fs=float(fs), seconds=30, seed=3)
        (tmp_path / "hi.edf").write_bytes(write_edf_bytes(
            [{"label": "ECG0", "fs": fs, "data": sig * 1000.0, "dim": "uV"}]
        ))

        # note: config.fs left at its 500.0 default on purpose
        out = run_pipeline(
            spark, PipelineConfig(source="actiwave", dtype="ECG",
                                  seg_size=10),
            path=str(tmp_path), cache_annotated=False)
        got = (out["ibi"].where(F.col("ibi_ms").isNotNull())
               .orderBy("sample_idx").toPandas())

        ann = annotate_cardiac(
            load_actiwave(spark, str(tmp_path))["ecg"], fs=float(fs),
            dtype="ECG", value_col="ecg")
        want = (attach_ibis(ann, fs=float(fs))
                .where(F.col("ibi_ms").isNotNull())
                .orderBy("sample_idx").toPandas())

        assert len(got) == len(want) > 10
        assert np.allclose(got["ibi_ms"].values, want["ibi_ms"].values)
        # 72 bpm -> ~833 ms; the config-fs bug would have given ~2x this
        assert 700 < got["ibi_ms"].median() < 1000

    def test_device_pipeline_construction_runs_no_eager_action(
            self, spark, tmp_path, monkeypatch):
        """Device-source run_pipeline must learn fs from bounded HEADER
        reads, not by decoding the corpus: constructing the pipeline may
        launch NO eager Spark action (the old distinct().collect() probe
        ran the full binaryFile+mapInPandas decode once at construction
        and again downstream — 2x ingest cost)."""
        import pyspark.sql.dataframe as psd

        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline
        from physioview_spark.sources import write_e4_zip, write_edf_bytes

        fs = 256
        sig, _ = synth_ecg(fs=float(fs), seconds=30, seed=5)
        edf_dir = tmp_path / "edf"
        edf_dir.mkdir()
        (edf_dir / "s.edf").write_bytes(write_edf_bytes(
            [{"label": "ECG0", "fs": fs, "data": sig * 1000.0,
              "dim": "uV"}]))
        zip_dir = tmp_path / "zips"
        zip_dir.mkdir()
        phase = 2 * np.pi * np.cumsum(np.full(64 * 120, 72 / 60.0 / 64.0))
        write_e4_zip(str(zip_dir / "dev.zip"), 1700000000.0,
                     bvp=np.sin(phase), eda=2.0 + np.zeros(4 * 120),
                     temp=33.0 + np.zeros(4 * 120))

        def boom(self, *a, **k):
            raise AssertionError(
                "eager Spark action during pipeline construction")

        for meth in ("collect", "toPandas", "count", "first", "head",
                     "take", "foreach", "foreachPartition"):
            monkeypatch.setattr(psd.DataFrame, meth, boom, raising=True)
        out_edf = run_pipeline(
            spark, PipelineConfig(source="actiwave", dtype="ECG",
                                  seg_size=10),
            path=str(edf_dir), cache_annotated=False)
        out_e4 = run_pipeline(
            spark, PipelineConfig(source="e4", dtype="BVP", seg_size=60),
            path=str(zip_dir), cache_annotated=False)
        monkeypatch.undo()

        # the frames still evaluate correctly with header-derived fs
        # (configs above left fs at the 500.0 default on purpose)
        ibi = (out_edf["ibi"].where(F.col("ibi_ms").isNotNull())
               .toPandas())
        assert 700 < ibi["ibi_ms"].median() < 1000  # 72 bpm at fs=256
        cm = out_e4["metrics"].toPandas()
        assert len(cm) == 2
        assert (cm["n_detected"].between(55, 90)).all()  # fs=64 from zip

    def test_mixed_device_rates_raise(self, spark, tmp_path):
        """Two EDFs at different rates in one run: refuse loudly instead
        of annotating half the cohort at the wrong fs."""
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline
        from physioview_spark.sources import write_edf_bytes

        for name, fs in (("a", 256), ("b", 512)):
            sig, _ = synth_ecg(fs=float(fs), seconds=4, seed=1)
            (tmp_path / f"{name}.edf").write_bytes(write_edf_bytes(
                [{"label": "ECG0", "fs": fs, "data": sig * 1000.0,
                  "dim": "uV"}]))
        with pytest.raises(ValueError, match="mixed sampling rates"):
            run_pipeline(
                spark, PipelineConfig(source="actiwave", dtype="ECG"),
                path=str(tmp_path), cache_annotated=False)

    def test_acc_from_config(self, spark):
        from physioview_spark.config import PipelineConfig
        from physioview_spark.pipeline import run_pipeline

        fs = 32.0
        n = int(fs * 180)
        rng = np.random.default_rng(5)
        pdf = pd.DataFrame({
            "subject_id": "a1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "x": rng.normal(0, 1, n), "y": rng.normal(0, 1, n),
            "z": 9.8 + rng.normal(0, .1, n),
        })
        cfg = PipelineConfig(dtype="ACC", fs=fs, seg_size=60)
        frames = run_pipeline(spark, cfg,
                              samples=spark.createDataFrame(pdf))
        assert "magnitude" in frames["samples"].columns
        m = frames["metrics"].toPandas()
        assert len(m) == 3
        # |acc| ~ 9.8-10; per-second sums * 60s per segment
        auc_col = [c for c in m.columns if "auc" in c.lower()][0]
        assert (m[auc_col] > fs * 9.0 * 60).all()


class TestMetricConstructionCost:
    def test_compute_metrics_py4j_round_trips_bounded(self, spark,
                                                      monkeypatch):
        """compute_metrics builds its plan from SQL expression strings:
        a Column-tree build of the same plan took ~2,600 py4j round trips
        to the JVM, the string build ~450."""
        from physioview_spark import cache
        from physioview_spark.operators import compute_metrics

        ann = spark.range(2 * 256 * 120).selectExpr(
            "concat('s', CAST(id % 2 AS STRING)) AS subject_id",
            "id div 2 AS sample_idx",
            "timestamp_micros(1700000000000000 + (id div 2) * 3906) AS ts",
            "CASE WHEN (id div 2) % 200 = 0 THEN 1.0 END AS beat",
            "CASE WHEN (id div 2) % 5000 = 0 THEN 1.0 END AS artifact")
        client = spark.sparkContext._gateway._gateway_client
        calls = []
        send = client.send_command

        def counting(*a, **k):
            calls.append(1)
            return send(*a, **k)

        with cache.pinned_frames():
            compute_metrics(ann, fs=256.0)  # first-use JVM lookups
            monkeypatch.setattr(client, "send_command", counting)
            out = compute_metrics(ann, fs=256.0)
            monkeypatch.undo()
        assert len(calls) <= 800, len(calls)
        assert out.columns == [
            "subject_id", "segment", "ts", "n_detected", "n_expected",
            "n_missing", "pct_missing", "n_artifact", "pct_artifact",
            "invalid"]
