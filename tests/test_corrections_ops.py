"""Tests for Q6 accept/revert, Q7 boundary nulling, K22 interp join,
K23 edit-index rescale, A9/A10 summaries, A12 rolling features."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestQ7BoundaryNulling:
    def test_null_before_and_after_each_block(self, spark):
        from physioview_spark.operators.corrections import (
            null_boundary_values, unusable_blocks,
        )

        n = 100
        ibi = np.full(n, np.nan)
        ibi[10::10] = 800.0          # ibis at 10,20,...,90
        art = np.full(n, np.nan)
        art[25] = 1.0
        art[55] = 1.0
        unusable = np.full(n, np.nan)
        unusable[40:46] = 1.0        # one block [40,45]
        unusable[70:76] = 1.0        # second block [70,75]
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "ibi_ms": ibi, "artifact": art, "unusable": unusable,
        })
        df = spark.createDataFrame(pdf)

        blocks = unusable_blocks(df).orderBy("lo").collect()
        assert [(b["lo"], b["hi"]) for b in blocks] == [(40, 45), (70, 75)]

        out = (null_boundary_values(df)
               .orderBy("sample_idx").toPandas())
        # block [40,45]: last ibi before = idx 40 is unusable but ibi[40]
        # is at 40 -> actually beats at 10..90 step 10: last before 40 is
        # 30, first after 45 is 50; block [70,75]: last before = 60 wait,
        # 70 is inside block; first after 75 is 80.
        killed = {30, 50, 60, 80}
        for i in range(n):
            if i in killed:
                assert np.isnan(out.loc[i, "ibi_ms"]), f"idx {i} not nulled"
            elif not np.isnan(ibi[i]):
                survives = i not in killed
                assert survives == (not np.isnan(out.loc[i, "ibi_ms"]))
        # artifacts: last before [40,45] is 25; first after is 55
        assert np.isnan(out.loc[25, "artifact"])
        assert np.isnan(out.loc[55, "artifact"])

    def test_ibi_at_40_is_inside_block(self, spark):
        from physioview_spark.operators.corrections import (
            null_boundary_values,
        )
        # value exactly at block start stays (only strictly-before rows
        # are "before"), matching loc[:s-1]
        pdf = pd.DataFrame({
            "subject_id": ["a"] * 6,
            "sample_idx": np.arange(6, dtype=np.int64),
            "ibi_ms": [np.nan, 700.0, np.nan, 800.0, np.nan, 900.0],
            "unusable": [np.nan, np.nan, np.nan, 1.0, 1.0, np.nan],
        })
        out = (null_boundary_values(spark.createDataFrame(pdf),
                                    value_cols=["ibi_ms"])
               .orderBy("sample_idx").toPandas())
        assert np.isnan(out.loc[1, "ibi_ms"])   # last before block
        assert np.isnan(out.loc[5, "ibi_ms"])   # first after block
        assert out.loc[3, "ibi_ms"] == 800.0    # inside block untouched


class TestQ6AcceptRevert:
    def _frame(self, spark):
        n = 3000
        fs = 10.0
        beat = np.full(n, np.nan)
        beat[50::9] = 1.0                     # ~0.9s ibis
        corrected = np.full(n, np.nan)
        corrected[50::10] = 1.0               # corrected: exactly 1s ibis
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "beat": beat, "corrected": corrected,
            "artifact": np.full(n, np.nan),
        })
        return spark.createDataFrame(pdf), fs

    def test_accept_swaps_and_redetects(self, spark):
        from physioview_spark.operators.corrections import (
            accept_corrections, revert_corrections,
        )

        df, fs = self._frame(spark)
        acc = accept_corrections(df, fs).orderBy("sample_idx").toPandas()
        # beats now at corrected positions
        got_beats = set(acc.index[acc["beat"] == 1])
        assert got_beats == set(range(50, 3000, 10))
        # originals preserved
        assert set(acc.index[acc["original_beat"] == 1]) == \
            set(range(50, 3000, 9))
        # revert restores
        rev = revert_corrections(
            spark.createDataFrame(acc), fs).orderBy("sample_idx").toPandas()
        assert set(rev.index[rev["beat"] == 1]) == set(range(50, 3000, 9))


class TestK22InterpJoin:
    def test_linear_interp_and_extrapolate(self, spark):
        from physioview_spark.operators.asof import interp_join

        left = spark.createDataFrame(
            [("a", float(k)) for k in range(0, 11)],
            "subject_id string, k double")
        # right series: v = 2*k + 1 sampled at k = 2, 4, 6, 8
        right = spark.createDataFrame(
            [("a", 2.0, 5.0), ("a", 4.0, 9.0), ("a", 6.0, 13.0),
             ("a", 8.0, 17.0)],
            "subject_id string, k double, v double")
        out = (interp_join(left, right, on="k", value_col="v",
                           by="subject_id")
               .orderBy("k").toPandas())
        # exact linear function -> interp AND extrapolation reproduce it
        np.testing.assert_allclose(
            out["v_interp"].values, 2 * out["k"].values + 1, atol=1e-9)

    def test_single_right_point_clamps(self, spark):
        from physioview_spark.operators.asof import interp_join

        left = spark.createDataFrame(
            [("a", 0.0), ("a", 5.0), ("a", 9.0)],
            "subject_id string, k double")
        right = spark.createDataFrame(
            [("a", 4.0, 7.0)], "subject_id string, k double, v double")
        out = interp_join(left, right, on="k", value_col="v",
                          by="subject_id").orderBy("k").toPandas()
        # no neighbor to build a slope -> nearest-fill
        assert list(out["v_interp"]) == [7.0, 7.0, 7.0]


class TestK23Rescale:
    def test_rescale_indices(self, spark):
        from physioview_spark.sources.beat_editor import (
            rescale_edit_indices,
        )

        edits = spark.createDataFrame(
            [(100.0, None, None, "ADD"), (None, 50.0, 99.0, "UNUSABLE")],
            "x double, `from` double, `to` double, editType string")
        out = rescale_edit_indices(edits, source_fs=500.0, target_fs=250.0) \
            .collect()
        assert out[0]["x"] == 50.0
        assert (out[1]["from"], out[1]["to"]) == (25.0, 50.0)


class TestSummaries:
    def test_cardiac_summary(self, spark):
        from physioview_spark.operators.metrics import cardiac_summary

        m = spark.createDataFrame(
            [("s1", 1, 60, 62, 2, 3.23, 1, 1.67, None),
             ("s1", 2, 58, 60, 2, 3.33, 0, 0.0, None),
             ("s1", 3, 10, 60, 50, 83.33, 0, 0.0, 1)],
            "subject_id string, segment long, n_detected long, "
            "n_expected long, n_missing long, pct_missing double, "
            "n_artifact long, pct_artifact double, invalid int")
        out = cardiac_summary(m).collect()[0]
        assert out["n_segments"] == 3
        assert out["segs_with_missing"] == 3
        assert out["segs_with_artifact"] == 1
        assert out["segs_invalid"] == 1
        assert out["avg_n_detected"] == round((60 + 58 + 10) / 3, 2)

    def test_eda_summary_with_scl(self, spark):
        from physioview_spark.operators.eda_metrics import eda_summary

        m = spark.createDataFrame(
            [("s1", 1, 90.0, 10.0, 0.0, 0.0, 3),
             ("s1", 2, 80.0, 20.0, 5.0, 1.0, 5)],
            "subject_id string, segment long, pct_valid double, "
            "pct_invalid double, pct_out_of_range double, "
            "pct_excessive_slope double, n_scrs long")
        s = spark.createDataFrame(
            [("s1", i, 2.0 + 0.1 * i) for i in range(5)],
            "subject_id string, sample_idx long, tonic double")
        out = eda_summary(m, samples=s).collect()[0]
        assert out["avg_pct_valid"] == 85.0
        assert out["avg_scrs_per_segment"] == 4.0
        assert out["median_tonic_scl"] == 2.2


class TestA12Features:
    def test_rolling_features_values(self, spark):
        from physioview_spark.operators.eda_metrics import (
            compute_eda_features,
        )

        base = pd.Timestamp("2024-01-01 00:00:00")
        n = 360
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "ts": [base + pd.Timedelta(seconds=i) for i in range(n)],
            "phasic": np.linspace(0.0, 1.0, n),
            "tonic": np.full(n, 5.0),
        })
        out = compute_eda_features(
            spark.createDataFrame(pdf), value_cols=["phasic", "tonic"],
            window_seconds=180, step_seconds=60).toPandas()
        full = out[out["n"] == 180].sort_values("window_start")
        assert len(full) >= 2
        row = full.iloc[0]
        assert abs(row["tonic_mean"] - 5.0) < 1e-9
        assert abs(row["tonic_std"]) < 1e-9
        # linear ramp: slope = 1/359 per second
        assert abs(row["phasic_slope"] - 1.0 / 359.0) < 1e-9
        assert abs(row["phasic_range"]
                   - (179.0 / 359.0 - row["phasic_min"] * 0)) < 1.0

    def test_skewness_kurtosis_population_forms(self, spark):
        """A12 skew/kurt (flirt's set includes both — VERDICT r13
        item 4): Spark's built-ins are the POPULATION forms; pin them
        against NumPy standardized moments, and a constant window
        yields NaN (like scipy on zero variance)."""
        from physioview_spark.operators.eda_metrics import (
            compute_eda_features,
        )

        base = pd.Timestamp("2024-01-01 00:00:00")
        n = 180
        rng = np.random.default_rng(11)
        vals = 2.0 + 0.5 * rng.standard_normal(n) + 0.3 * np.sin(
            np.arange(n) / 9.0)
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "ts": [base + pd.Timedelta(seconds=i) for i in range(n)],
            "phasic": vals,
            "tonic": np.full(n, 5.0),
        })
        out = compute_eda_features(
            spark.createDataFrame(pdf), value_cols=["phasic", "tonic"],
            window_seconds=180, step_seconds=60).toPandas()
        row = out[out["n"] == 180].iloc[0]
        z = (vals - vals.mean()) / vals.std()  # population std
        assert abs(row["phasic_skewness"] - np.mean(z ** 3)) < 1e-9
        assert abs(row["phasic_kurtosis"] - (np.mean(z ** 4) - 3.0)) < 1e-9
        assert np.isnan(row["tonic_skewness"])
        assert np.isnan(row["tonic_kurtosis"])

    def test_extended_features_vs_numpy(self, spark):
        """extended=True (the rest of flirt's get_stats — order/mean-
        dependent) vs per-window NumPy references, every sliding
        window. Quantized values force multiplicities (entropy) and
        ties (stable Bandt-Pompe patterns); negatives force sign
        changes."""
        from physioview_spark.functions.kernels_hrv import _perm_entropy
        from physioview_spark.operators.eda_metrics import (
            compute_eda_features,
        )

        base = pd.Timestamp("2024-01-01 00:00:00")
        n = 200
        rng = np.random.default_rng(23)
        vals = np.round(rng.standard_normal(n) * 2.0, 1)  # ties + signs
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "ts": [base + pd.Timedelta(seconds=i) for i in range(n)],
            "phasic": vals,
        })
        out = compute_eda_features(
            spark.createDataFrame(pdf), value_cols=["phasic"],
            window_seconds=60, step_seconds=30, extended=True).toPandas()
        out["start_s"] = (out["window_start"] - base).dt.total_seconds()
        checked = 0
        for _, row in out.iterrows():
            s0 = row["start_s"]
            x = vals[(np.arange(n) >= s0) & (np.arange(n) < s0 + 60)]
            if len(x) < 4:
                continue
            checked += 1
            assert abs(row["phasic_energy"] - np.sum(x ** 2)) < 1e-9
            assert abs(row["phasic_lineintegral"]
                       - np.sum(np.abs(np.diff(x)))) < 1e-9
            # independent find_peaks emulation (scipy _local_maxima_1d
            # walk): plateau runs count once, edge plateaus never
            npk, i = 0, 1
            while i < len(x) - 1:
                if x[i - 1] < x[i]:
                    j = i
                    while j < len(x) - 1 and x[j + 1] == x[i]:
                        j += 1
                    if j < len(x) - 1 and x[j + 1] < x[i]:
                        npk += 1
                    i = j
                i += 1
            assert row["phasic_peaks"] == float(npk)
            assert row["phasic_n_sign_changes"] == float(np.sum(
                np.diff(np.sign(x)) != 0))
            mu = x.mean()
            assert row["phasic_n_above_mean"] == float(np.sum(x > mu))
            assert row["phasic_n_below_mean"] == float(np.sum(x < mu))
            _, counts = np.unique(x, return_counts=True)
            p = counts / counts.sum()
            assert abs(row["phasic_entropy"]
                       - float(-(p * np.log(p)).sum())) < 1e-9
            assert abs(row["phasic_perm_entropy"]
                       - _perm_entropy(x)) < 1e-9
            # trig closed-form 3x3 eigensolve vs LAPACK SVD
            from physioview_spark.functions.kernels_hrv import _svd_entropy
            assert abs(row["phasic_svd_entropy"]
                       - _svd_entropy(x)) < 1e-6
        assert checked >= 5

    def test_extended_tiny_windows_ansi_safe(self, spark):
        """1-2 row windows: empty pattern/embedding censuses must yield
        NULLs (not ANSI divide-by-zero — the guards are lazy CaseWhen
        branches), counts coalesce to 0, single-value entropy is 0."""
        from physioview_spark.operators.eda_metrics import (
            compute_eda_features,
        )

        base = pd.Timestamp("2024-01-01 00:00:00")
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "ts": [base, base + pd.Timedelta(seconds=1)],
            "phasic": [1.0, 3.0],
        })
        out = compute_eda_features(
            spark.createDataFrame(pdf), value_cols=["phasic"],
            window_seconds=60, step_seconds=30,
            extended=True).toPandas().sort_values("n")
        two = out[out["n"] == 2].iloc[0]
        assert two["phasic_lineintegral"] == 2.0
        assert two["phasic_peaks"] == 0.0
        assert two["phasic_n_sign_changes"] == 0.0
        assert abs(two["phasic_entropy"] - np.log(2.0)) < 1e-12
        assert pd.isna(two["phasic_perm_entropy"])  # no complete pattern
        assert pd.isna(two["phasic_svd_entropy"])   # empty embedding

    def test_extended_peaks_plateau_semantics(self, spark):
        """find_peaks plateau parity (ADVICE r14 item 2): a flat-topped
        run counts once; edge plateaus never count; the relational run
        census matches the NumPy twin exactly."""
        from physioview_spark.functions.kernels_hrv import find_peaks_count
        from physioview_spark.operators.eda_metrics import (
            compute_eda_features,
        )

        vals = np.array([9.0, 9.0, 1.0, 7.0, 7.0, 7.0, 2.0, 8.0,
                         3.0, 3.0, 5.0, 5.0, 4.0, 6.0, 6.0])
        assert find_peaks_count(vals) == 3  # 7-plateau, 8, 5-plateau
        base = pd.Timestamp("2024-01-01 00:00:00")
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "ts": [base + pd.Timedelta(seconds=i) for i in range(len(vals))],
            "phasic": vals,
        })
        out = compute_eda_features(
            spark.createDataFrame(pdf), value_cols=["phasic"],
            window_seconds=60, step_seconds=60, extended=True).toPandas()
        assert out.loc[0, "phasic_peaks"] == 3.0


class TestHaloChunkedKernels:
    def test_chunked_equals_whole_recording(self, spark):
        """Overlap-and-discard chunking must reproduce the whole-recording
        filter output (halo absorbs the zero-phase transient)."""
        from physioview_spark.functions.spark_kernels import (
            apply_kernel, apply_kernel_chunked, default_filter,
        )

        fs, n = 250.0, 50_000
        rng = np.random.default_rng(3)
        sig = (np.sin(2 * np.pi * 1.1 * np.arange(n) / fs)
               + 0.2 * rng.normal(size=n))
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "ecg": sig,
        })
        df = spark.createDataFrame(pdf)
        filt = default_filter("ECG", fs)
        whole = (apply_kernel(df, filt, "ecg", "f")
                 .orderBy("sample_idx").toPandas()["f"].to_numpy())
        chunked = (apply_kernel_chunked(
            df, filt, "ecg", "f", chunk_len=16384, halo=4096)
            .orderBy("sample_idx").toPandas()["f"].to_numpy())
        assert len(chunked) == n
        np.testing.assert_allclose(chunked, whole, atol=1e-9)

    def test_chunked_moving_average_exact(self, spark):
        from physioview_spark.dsp.apply import moving_average
        from physioview_spark.functions.spark_kernels import (
            apply_kernel_chunked,
        )

        n = 10_000
        x = np.random.default_rng(0).normal(size=n)
        pdf = pd.DataFrame({
            "subject_id": "a",
            "sample_idx": np.arange(n, dtype=np.int64),
            "v": x,
        })
        out = (apply_kernel_chunked(
            spark.createDataFrame(pdf), lambda a: moving_average(a, 33),
            "v", "ma", chunk_len=2048, halo=64)
            .orderBy("sample_idx").toPandas()["ma"].to_numpy())
        np.testing.assert_allclose(out, moving_average(x, 33), atol=1e-12)

    def test_group_spreading_plan_and_parity(self, spark):
        """group_partitions defeats AQE's byte-based coalescing for
        compute-heavy, byte-light chunk groups (the measured r09 cvx
        straggler cause — PLANS.md round 10): the explicit repartition
        must be the ONLY exchange (its hash clustering satisfies the
        groupBy, so EnsureRequirements adds no second shuffle), carry
        the REPARTITION_BY_NUM origin AQE never coalesces, spread
        groups at 1-2 per task, and leave values bit-identical to the
        default path."""
        from pyspark.sql import functions as F

        from physioview_spark.functions.spark_kernels import (
            apply_kernel_chunked, decompose_eda_chunked,
        )

        n = 20_000
        pdf = pd.DataFrame({
            "subject_id": "s0",
            "sample_idx": np.arange(n, dtype=np.int64),
            "eda": 2.0 + 0.1 * np.sin(np.arange(n) / 500.0),
        })
        df = spark.createDataFrame(pdf)

        spread = apply_kernel_chunked(
            df, lambda a: a * 2, "eda", "y",
            chunk_len=2000, halo=100, group_partitions=20)
        plan = spread._jdf.queryExecution().executedPlan().toString()
        exch = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exch) == 1, plan
        assert "REPARTITION_BY_NUM" in exch[0]
        assert ", 20)" in exch[0]  # explicit count survives planning

        loads = (spread.withColumn("p", F.spark_partition_id())
                 .groupBy("p")
                 .agg(F.countDistinct(
                     (F.col("sample_idx") / 2000).cast("long"))
                     .alias("g"))
                 .toPandas())
        assert loads["g"].max() <= 2  # 10 groups over 20 partitions

        default = apply_kernel_chunked(
            df, lambda a: a * 2, "eda", "y", chunk_len=2000, halo=100)
        a = spread.orderBy("sample_idx").toPandas()["y"].to_numpy()
        b = default.orderBy("sample_idx").toPandas()["y"].to_numpy()
        assert np.array_equal(a, b)

        # decompose_eda_chunked default "auto" is method-gated (r10
        # advisor): the cvx gear gets the counting aggregate + the
        # single-exchange REPARTITION_BY_NUM spread (plan-assert only —
        # building the plan never runs the ADMM), while the byte-bound
        # fast smoother resolves "auto" to None and keeps the raw
        # AQE-coalescible groupBy exchange, skipping the eager count.
        d = decompose_eda_chunked(
            df, fs=4.0, value_col="eda", chunk_seconds=500.0,
            halo_seconds=25.0, method="cvx")
        plan2 = d._jdf.queryExecution().executedPlan().toString()
        exch2 = [ln for ln in plan2.splitlines() if "Exchange" in ln]
        assert len(exch2) == 1, plan2
        assert "REPARTITION_BY_NUM" in exch2[0]
        # 10 chunks of 2000 samples -> auto = 2x10 partitions
        assert ", 20)" in exch2[0]

        dfast = decompose_eda_chunked(
            df, fs=4.0, value_col="eda", chunk_seconds=500.0,
            halo_seconds=25.0, method="fast")
        plan3 = dfast._jdf.queryExecution().executedPlan().toString()
        exch3 = [ln for ln in plan3.splitlines() if "Exchange" in ln]
        assert len(exch3) == 1, plan3
        assert "REPARTITION_BY_NUM" not in exch3[0]
        assert dfast.count() == n


class TestPartitionedFastPath:
    def test_fast_path_equals_grouped(self, spark, tmp_path):
        """assume_partitioned (mapInPandas, no shuffle) must reproduce the
        grouped applyInPandas output when subjects arrive file-per-task."""
        from physioview_spark.functions.spark_kernels import (
            annotate_cardiac,
        )
        from physioview_spark.sources import load_signal_csv

        fs = 100.0
        for s in range(3):
            rng = np.random.default_rng(s)
            n = 3000
            t = np.arange(n) / fs
            sig = 0.02 * rng.standard_normal(n)
            for b in np.arange(0.5, 29.5, 0.8):
                sig += np.exp(-((t - b) ** 2) / (2 * 0.01 ** 2))
            pd.DataFrame({"ts": t, "sig": sig}).to_csv(
                tmp_path / f"p{s}.csv", index=False)
        raw = load_signal_csv(
            spark, str(tmp_path), "ecg",
            header_map={"ts": "ts", "sig": "ecg"}, has_ts=False)
        # persist with the cohort layout (partitioned by subject) so the
        # re-read arrives file-per-task with sample_idx precomputed
        pq = str(tmp_path / "cohort_pq")
        raw.write.partitionBy("subject_id").parquet(pq)
        df = spark.read.parquet(pq).select(
            "subject_id", "sample_idx", "ts", "ecg")

        kw = dict(fs=fs, value_col="ecg", detector="pantompkins")
        slow = (annotate_cardiac(df, **kw)
                .orderBy("subject_id", "sample_idx").toPandas())
        fast = (annotate_cardiac(df, assume_partitioned=True, **kw)
                .orderBy("subject_id", "sample_idx").toPandas())
        # no Exchange in the fast path's plan
        plan = annotate_cardiac(df, assume_partitioned=True, **kw) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        pd.testing.assert_frame_equal(slow, fast)


class TestHeterogeneousRates:
    def test_fs_from_column_per_subject(self, spark):
        """fs=None: each subject annotated at its own rate (mixed-device
        cohorts) — beat counts match the per-rate ground truth."""
        from physioview_spark.functions.spark_kernels import (
            annotate_cardiac,
        )

        frames = []
        for subj, fs in (("lo", 64.0), ("hi", 256.0)):
            n = int(fs * 60)
            rng = np.random.default_rng(int(fs))
            t = np.arange(n) / fs
            sig = 0.02 * rng.standard_normal(n)
            for b in np.arange(0.5, 59.5, 60.0 / 70):
                sig += 1.0 * np.exp(-((t - b) ** 2) / (2 * 0.012 ** 2))
            frames.append(pd.DataFrame({
                "subject_id": subj,
                "sample_idx": np.arange(n, dtype=np.int64),
                "ecg": sig,
                "fs": np.full(n, fs),
            }))
        df = spark.createDataFrame(pd.concat(frames))
        out = annotate_cardiac(df, fs=None, value_col="ecg",
                               detector="manikandan")
        counts = {r["subject_id"]: r["count"]
                  for r in out.where(F.col("beat") == 1)
                  .groupBy("subject_id").count().collect()}
        # ~69 beats in 59s at 70 bpm for BOTH rates
        assert 60 <= counts["lo"] <= 80, counts
        assert 60 <= counts["hi"] <= 80, counts


class TestAucNormalization:
    def test_minmax_and_zscore_norms(self, spark):
        """A7 normalization variants: per-second sums normalized WITHIN
        each segment, emitted as auc_norm alongside raw auc (reference:
        pipeline/ACC.py:100-170)."""
        from physioview_spark.operators.acc import compute_auc

        fs = 10.0
        n = int(fs * 120)
        mag = np.linspace(1.0, 2.0, n)  # ramp -> distinct per-second sums
        pdf = pd.DataFrame({
            "subject_id": "a",
            "sample_idx": np.arange(n, dtype=np.int64),
            "magnitude": mag,
        })
        df = spark.createDataFrame(pdf)

        plain = compute_auc(df, fs=fs, seg_size=60).toPandas()
        mm = (compute_auc(df, fs=fs, seg_size=60, norm="minmax")
              .toPandas().sort_values("segment").reset_index(drop=True))
        zs = (compute_auc(df, fs=fs, seg_size=60, norm="zscore")
              .toPandas().sort_values("segment").reset_index(drop=True))

        # norm=None -> no auc_norm column (reference drops the all-NaN col)
        assert "auc_norm" not in plain.columns
        assert {"auc", "auc_norm"} <= set(mm.columns)

        # raw auc: sum of the ramp -> increasing across segments, and
        # IDENTICAL whether or not a norm is requested (norm never
        # replaces the raw value)
        plain = plain.sort_values("segment").reset_index(drop=True)
        assert plain["auc"].iloc[1] > plain["auc"].iloc[0]
        assert np.allclose(plain["auc"].values, mm["auc"].values)
        assert np.allclose(plain["auc"].values, zs["auc"].values)

        # minmax: each segment's 60 per-second sums are evenly spaced, so
        # normalized within the segment they span [0,1] -> sum = 30 each
        assert np.allclose(mm["auc_norm"].values, [30.0, 30.0], atol=1e-6)
        # zscore: sum of within-segment z-scores is exactly 0 per segment
        assert np.allclose(zs["auc_norm"].values, [0.0, 0.0], atol=1e-6)

    def test_norm_validation_and_rolling_norm(self, spark):
        """Invalid norm raises (reference: pipeline/ACC.py:104-107);
        rolling windows carry per-window auc_norm."""
        import pytest as _pytest

        from physioview_spark.operators.acc import compute_auc

        fs = 10.0
        n = int(fs * 90)
        pdf = pd.DataFrame({
            "subject_id": "a",
            "sample_idx": np.arange(n, dtype=np.int64),
            "magnitude": np.linspace(0.0, 1.0, n),
        })
        df = spark.createDataFrame(pdf)
        with _pytest.raises(ValueError):
            compute_auc(df, fs=fs, norm="bogus")

        roll = (compute_auc(df, fs=fs, rolling_window=30, rolling_step=15,
                            norm="minmax")
                .toPandas().sort_values("moving_window"))
        # ceil(90/15) = 6 windows (reference iterates range(0, len, step))
        assert len(roll) == 6
        # every full 30 s window of the ramp normalizes to an even [0,1]
        # spread -> auc_norm = 15; truncated trailing windows stay in range
        assert np.allclose(roll["auc_norm"].iloc[:4], 15.0, atol=1e-6)
        assert (roll["auc_norm"].dropna() >= 0).all()


class TestExpectations:
    def test_validate_counts_and_quarantine_split(self, spark):
        from pyspark.sql import functions as F

        from physioview_spark.operators.validate import (
            quarantine, validate,
        )

        df = spark.createDataFrame(
            [(1, 60.0, "a"), (2, None, "b"), (3, 300.0, None),
             (4, 80.0, "d"), (5, -5.0, "e")],
            "id long, hr double, tag string")
        rules = {
            "hr_present": F.col("hr").isNotNull(),
            "hr_in_range": (F.col("hr") >= 0) & (F.col("hr") <= 250),
            "tag_present": F.col("tag").isNotNull(),
        }
        rep = validate(df, rules).first()
        assert rep["n_rows"] == 5
        assert rep["hr_present_violations"] == 1
        # null hr fails the range expectation too (cannot evaluate ->
        # not met), plus 300 and -5
        assert rep["hr_in_range_violations"] == 3
        assert rep["tag_present_violations"] == 1

        valid, rejected = quarantine(df, rules)
        assert {r["id"] for r in valid.collect()} == {1, 4}
        rej = {r["id"]: r["violations"] for r in rejected.collect()}
        assert rej[2] == ["hr_in_range", "hr_present"]
        assert rej[3] == ["hr_in_range", "tag_present"]
        assert rej[5] == ["hr_in_range"]
        # single-pass shape: no Exchange in either branch
        for frame in (valid, rejected):
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan

    def test_validate_empty_frame_reports_zero_not_null(self, spark):
        """r08 ADVICE: F.sum over zero rows is NULL — an empty-but-clean
        dataset must report integer-0 violations, not NULL (a consumer's
        `violations == 0` check would read NULL as failing)."""
        from pyspark.sql import functions as F

        from physioview_spark.operators.validate import validate

        df = spark.createDataFrame([], "id long, hr double")
        rep = validate(df, {
            "hr_present": F.col("hr").isNotNull(),
            "hr_in_range": (F.col("hr") >= 0) & (F.col("hr") <= 250),
        }).first()
        assert rep["n_rows"] == 0
        assert rep["hr_present_violations"] == 0
        assert rep["hr_in_range_violations"] == 0


class TestProfile:
    """operators/validate.profile — one-pass long-format column stats."""

    def test_matches_duckdb_exact_metrics(self, spark):
        import duckdb

        from physioview_spark.operators.validate import profile
        rows = [(i, float(i) if i % 5 else None,
                 f"s{i % 7}" if i % 11 else None) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, v double, s string")
        got = {r.column: r for r in profile(df).collect()}
        assert set(got) == {"id", "v", "s"}
        pdf = df.toPandas()  # duckdb replacement scan needs pandas
        want = duckdb.sql("""
            SELECT count(*) n,
                   sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) nn_v,
                   sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) nn_s,
                   avg(v) av, stddev_samp(v) sd,
                   quantile_disc(v, 0.5) med, min(s) mns, max(s) mxs
            FROM pdf""").fetchone()
        for r in got.values():
            assert r.n_rows == want[0] == 200
        assert got["v"].n_nulls == want[1] and got["s"].n_nulls == want[2]
        assert abs(got["v"].mean - want[3]) < 1e-9
        assert abs(got["v"].stddev - want[4]) < 1e-9
        # GK sketch is exact at this size; quantile_disc matches
        # Spark's discrete (non-interpolating) percentile definition
        assert abs(got["v"].q50 - want[5]) < 1e-9
        assert (got["s"].min_str, got["s"].max_str) == (want[6], want[7])
        # non-numeric columns carry NULL numeric stats
        assert got["s"].mean is None and got["s"].q50 is None
        # HLL++ within 3x rsd of truth (id: 200 distinct, s: 7)
        assert abs(got["id"].n_distinct_approx - 200) <= 30
        assert got["s"].n_distinct_approx == 7

    def test_single_job_single_scan(self, spark):
        """The point of the operator: profiling N columns must not run
        N jobs — everything folds into one aggregate over one scan."""
        from physioview_spark.operators.validate import profile
        # 12 columns: a per-column fan-out (describe-style loops) would
        # cost >= 12 jobs; the single wide aggregate stays O(1)
        df = spark.range(1000).selectExpr(
            "id", *[f"id * {i} as c{i}" for i in range(1, 11)],
            "cast(id as string) as s")
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        out = profile(df)
        assert out.count() == 12
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after - before <= 6

    def test_empty_frame(self, spark):
        from physioview_spark.operators.validate import profile
        df = spark.range(0).selectExpr("id", "cast(id as double) as v")
        got = {r.column: r for r in profile(df).collect()}
        assert got["id"].n_rows == 0 and got["id"].n_nulls == 0
        assert got["v"].mean is None

    def test_array_and_map_columns(self, spark):
        """profile must survive complex columns: arrays are orderable
        and hashable (full stats); maps have no ordering — nulls and
        distinct only, min_str/max_str NULL."""
        from physioview_spark.operators.validate import profile
        df = spark.sql(
            "select id, array(id, id+1) as a, map('k', id) as m "
            "from range(5)")
        got = {r.column: r for r in profile(df).collect()}
        assert got["a"].min_str is not None
        assert got["a"].n_distinct_approx == 5
        assert got["m"].min_str is None and got["m"].max_str is None
        assert got["m"].n_nulls == 0 and got["m"].n_distinct_approx == 5

    def test_numeric_minmax_not_lexicographic(self, spark):
        """Regression (review-caught): min/max must be computed in the
        native type BEFORE stringifying — lexicographic '9' > '10'."""
        from physioview_spark.operators.validate import profile
        df = spark.createDataFrame(
            [(9,), (10,), (199,)], "v long")
        r = profile(df).collect()[0]
        assert (r.min_str, r.max_str) == ("9", "199")

    def test_decimal_column_and_quantile_labels(self, spark):
        """Regression (review-caught): decimal avg/stddev yield
        Decimal objects the double schema rejected; sub-percent or
        colliding quantile labels must be handled, not silently merged."""
        import pytest as _pt

        from physioview_spark.operators.validate import profile
        df = spark.createDataFrame(
            [(1,), (2,), (3,)], "v long").selectExpr(
            "cast(v as decimal(10,2)) as d")
        got = profile(df, quantiles=(0.5, 0.999)).collect()[0]
        assert abs(got.mean - 2.0) < 1e-9
        assert got.q999 == 3.0
        with _pt.raises(ValueError):
            profile(df, quantiles=(0.99, 0.999, 0.9990))

    def test_hostile_column_names(self, spark):
        """r09 advisor fix: names are resolved with escaped backtick
        quoting, so a dotted name profiles as the physical column (not
        a nested-field path) and a backtick in the name cannot break
        the approx_percentile expr parse."""
        from physioview_spark.operators.validate import profile
        df = spark.range(5).selectExpr(
            "cast(id as double) as `a.b`", "id as `we``ird`")
        rows = {r.column: r for r in profile(df).collect()}
        assert set(rows) == {"a.b", "we`ird"}
        assert rows["a.b"].n_rows == 5 and rows["a.b"].n_nulls == 0
        assert abs(rows["a.b"].mean - 2.0) < 1e-9
        assert rows["a.b"].q50 == 2.0
        assert rows["we`ird"].min_str == "0"
        assert rows["we`ird"].max_str == "4"


class TestProfileDiff:
    """operators/validate.profile_diff — snapshot drift flags."""

    def test_flags_and_deltas(self, spark):
        from physioview_spark.operators.validate import (
            profile, profile_diff,
        )
        before = spark.range(100).selectExpr(
            "cast(id as double) as v",            # mean 49.5, sd ~29
            "id as stable",
            "cast(id as string) as gone")
        after = spark.range(100).selectExpr(
            "cast(id + 100 as double) as v",      # mean shifts by ~3.4 sd
            "id as stable",
            "cast(null as double) as fresh")      # appeared, all-null
        d = {r.column: r for r in profile_diff(
            profile(before), profile(after)).collect()}
        assert d["stable"].flags == ""
        assert "mean_shift" in d["v"].flags
        assert abs(d["v"].mean_shift_sds - 100 / 29.011492) < 0.1
        assert d["gone"].flags == "vanished"
        assert d["gone"].dtype_after is None
        assert d["fresh"].flags == "appeared"
        # no baseline -> no delta flags for an appeared column
        assert d["fresh"].null_rate_delta is None

    def test_dtype_change_and_null_rate(self, spark):
        from physioview_spark.operators.validate import (
            profile, profile_diff,
        )
        before = spark.range(100).selectExpr("id as x")
        after = spark.range(100).selectExpr(
            "case when id < 10 then null else cast(id as double) end as x")
        row = profile_diff(profile(before), profile(after)).collect()[0]
        assert "dtype_changed" in row.flags
        assert "null_rate" in row.flags
        assert abs(row.null_rate_delta - 0.1) < 1e-9
        # tolerances are honored: widening them clears the flags
        loose = profile_diff(
            profile(before.selectExpr("cast(x as double) as x")),
            profile(after), null_rate_tol=0.5).collect()[0]
        assert "null_rate" not in loose.flags
        assert "dtype_changed" not in loose.flags

    def test_constant_column_drift_flagged_unscaled(self, spark):
        """r09 advisor: mean_shift_sds is NULL when before-stddev is 0
        (constant column), so a location drift there used to pass the
        gate silently — it must now raise mean_shift_unscaled.
        A constant column that did NOT move stays unflagged."""
        from physioview_spark.operators.validate import (
            profile, profile_diff,
        )
        before = spark.range(100).selectExpr(
            "cast(7 as double) as c", "cast(1 as double) as same")
        after = spark.range(100).selectExpr(
            "cast(9 as double) as c", "cast(1 as double) as same")
        d = {r.column: r for r in profile_diff(
            profile(before), profile(after)).collect()}
        assert d["c"].mean_shift_sds is None  # still unscalable...
        assert "mean_shift_unscaled" in d["c"].flags  # ...but flagged
        assert "mean_shift" not in d["same"].flags
        assert d["same"].flags == ""

    def test_constant_column_ulp_noise_not_flagged(self, spark):
        """r10 advisor: the unscaled comparison carries a tiny epsilon
        so ULP-level mean scatter (aggregation-order noise on a
        near-constant column) is NOT drift; a shift just past the
        relative tolerance still is."""
        from physioview_spark.operators.validate import (
            profile, profile_diff,
        )
        base = 7.0
        before = spark.range(100).selectExpr(
            f"cast({base!r} as double) as c")
        # one ULP of 7.0 is ~8.9e-16 — far inside the 1e-9 rel tol
        after_ulp = spark.range(100).selectExpr(
            f"cast({base + 8.9e-16!r} as double) as c")
        d = profile_diff(profile(before), profile(after_ulp)).collect()[0]
        assert "mean_shift_unscaled" not in d.flags
        # a 1e-6 relative shift clears the 1e-9 tolerance -> flagged
        after_real = spark.range(100).selectExpr(
            f"cast({base * (1 + 1e-6)!r} as double) as c")
        d2 = profile_diff(profile(before), profile(after_real)).collect()[0]
        assert "mean_shift_unscaled" in d2.flags


    def test_constant_column_at_four_partitions(self, spark):
        """A constant column's stddev is exactly 0.0 from one partition
        but can carry ULP scatter (3.16e-16 for 100 rows of 7.0 over 4
        partitions) once partial aggregates merge. Either way it is a
        constant column: no scaled shift, the unscaled flag on a move,
        and no flag when it stays put."""
        from physioview_spark.operators.validate import (
            profile, profile_diff,
        )

        def const(v):
            return spark.range(100).repartition(4).selectExpr(
                f"cast({v!r} as double) as c")

        before = profile(const(7.0))
        d = profile_diff(before, profile(const(9.0))).collect()[0]
        assert d.mean_shift_sds is None
        assert d.flags == "mean_shift_unscaled"
        same = profile_diff(before, profile(const(7.0))).collect()[0]
        assert same.mean_shift_sds is None and same.flags == ""

class TestSkewReport:
    def test_matches_duckdb_and_null_keys(self, spark):
        import duckdb

        from physioview_spark.operators.validate import skew_report
        rows = [(i % 3 if i % 10 else None, f"d{i % 4}")
                for i in range(200)]
        df = spark.createDataFrame(rows, "k long, dom string")
        key = lambda t: (t[0], t[4])  # (column, rank): never None
        got = sorted(map(tuple, skew_report(df, ["k", "dom"], top=5)
                         .collect()), key=key)
        pdf = df.toPandas()
        want = sorted(map(tuple, duckdb.sql("""
            WITH f AS (
              SELECT 'k' AS colname, CAST(CAST(k AS BIGINT) AS VARCHAR) AS key_str,  -- pandas floats the nullable long
                     count(*) AS cnt FROM pdf GROUP BY k
              UNION ALL
              SELECT 'dom', dom, count(*) FROM pdf GROUP BY dom),
            r AS (
              SELECT colname, key_str, cnt,
                     round(cnt / 200.0, 6) AS share,
                     row_number() OVER (PARTITION BY colname
                         ORDER BY cnt DESC, key_str ASC NULLS LAST) AS rnk
              FROM f)
            SELECT colname, key_str, cnt, share, rnk
            FROM r WHERE rnk <= 5""").fetchall()), key=key)
        assert got == want
        # the NULL key (20 rows) must appear with its true count
        assert any(t[1] is None and t[2] == 20 for t in got)

    def test_single_pass_plan(self, spark):
        """One grouping-sets aggregate, not one shuffle per column: the
        plan has exactly one Expand node feeding one aggregate exchange
        (plus the top-k window exchange). r09: the share denominator is
        a grand-total grouping set riding the SAME pass — exactly one
        scan of the input, no separate count() job."""
        from physioview_spark.operators.validate import skew_report
        df = spark.range(100).selectExpr(
            "id % 3 as a", "id % 5 as b", "id % 7 as c")
        plan = skew_report(df, ["a", "b", "c"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Expand") == 1
        assert "WindowGroupLimit" in plan
        assert plan.count("Range (0, 100") == 1  # input scanned once

    def test_empty_columns_raises(self, spark):
        import pytest as _pt

        from physioview_spark.operators.validate import skew_report
        with _pt.raises(ValueError):
            skew_report(spark.range(1), [])

    def test_hostile_column_names(self, spark):
        """Same exact-name contract as profile(): dotted/backticked
        physical names group as themselves, and the positional grouping
        flags keep the set-recovery CASE safe."""
        from physioview_spark.operators.validate import skew_report
        df = spark.range(10).selectExpr(
            "id % 2 as `a.b`", "id % 5 as `we``ird`")
        got = {(r.column, r.key_str): (r.cnt, r.share)
               for r in skew_report(df, ["a.b", "we`ird"], top=2)
               .collect()}
        assert got[("a.b", "0")] == (5, 0.5)
        assert got[("a.b", "1")] == (5, 0.5)
        assert all(c in ("a.b", "we`ird") for c, _ in got)
        assert sum(1 for c, _ in got if c == "we`ird") == 2
