"""Source/sink tests: CSV mapping (S6/S7), EDF (S1/S2), E4 ZIP (S3-S5),
Beat Editor JSON round-trip + edit application (S13/S14/Q5), and the
resampling kernels they depend on (K19-K21)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- CSV S6/S7

class TestCsvSource:
    def _write_csvs(self, tmp_path, n_files=3, n_rows=50):
        paths = []
        for i in range(n_files):
            p = tmp_path / f"subj{i}.csv"
            with open(p, "w") as f:
                f.write("time_s,ecg_mv\n")
                for j in range(n_rows):
                    f.write(f"{1700000000 + i * 1000 + j * 0.008:.3f},"
                            f"{np.sin(j / 5.0):.6f}\n")
            paths.append(str(p))
        return paths

    def test_batch_scan_subjects_and_sample_idx(self, spark, tmp_path):
        from physioview_spark.sources import load_signal_csv

        self._write_csvs(tmp_path)
        df = load_signal_csv(
            spark, str(tmp_path), "ecg",
            header_map={"time_s": "ts", "ecg_mv": "ecg"})
        rows = df.groupBy("subject_id").agg(
            F.count("*").alias("n"),
            F.min("sample_idx").alias("lo"),
            F.max("sample_idx").alias("hi")).collect()
        assert len(rows) == 3
        for r in rows:
            assert (r["n"], r["lo"], r["hi"]) == (50, 0, 49)

    def test_unix_unit_inference(self, spark, tmp_path):
        from physioview_spark.sources import load_signal_csv

        self._write_csvs(tmp_path, n_files=1)
        df = load_signal_csv(
            spark, str(tmp_path / "subj0.csv"), "ecg",
            header_map={"time_s": "ts", "ecg_mv": "ecg"})
        assert dict(df.dtypes)["ts"].startswith("timestamp")
        first = df.orderBy("sample_idx").first()
        assert first["ts"].year == 2023  # 1700000000 epoch-seconds

    def test_unix_unit_bands_and_bounded_sample(self, spark):
        from physioview_spark.sources import infer_unix_unit

        for unit, mag in (("s", 1.7e9), ("ms", 1.7e12), ("us", 1.7e15)):
            df = spark.range(50_000).selectExpr(f"id + {mag} as ts")
            assert infer_unix_unit(df, "ts") == unit
            # the bands differ by >=100x, so a tiny sample suffices —
            # and the probe must honor the bound
            assert infer_unix_unit(df, "ts", sample_rows=64) == unit
        assert infer_unix_unit(
            spark.range(100).selectExpr("id as ts"), "ts") is None


class TestCsvHeadSniff:
    """load_signal_csv types its columns and picks the timestamp unit from
    a bounded head read of the first data file: no Spark job, whatever
    the layout."""

    HM = {"t": "ts", "v": "ecg"}

    def _load(self, spark, jobs_started, path, **kw):
        from physioview_spark.sources import load_signal_csv

        df, n_jobs = jobs_started(lambda: load_signal_csv(
            spark, str(path), "ecg", header_map=kw.pop("hm", self.HM), **kw))
        assert n_jobs == 0
        return df, df.orderBy("subject_id", "sample_idx").collect()

    def test_integer_values_come_out_double(self, spark, jobs_started,
                                            tmp_path):
        (tmp_path / "a.csv").write_text(
            "t,v\n" + "".join(f"{1700000000 + j},{j}\n" for j in range(50)))
        df, rows = self._load(spark, jobs_started, tmp_path)
        assert dict(df.dtypes)["ecg"] == "double"
        assert [r.ecg for r in rows[:3]] == [0.0, 1.0, 2.0]
        assert rows[1].ts.timestamp() - rows[0].ts.timestamp() == 1.0

    def test_header_only_file(self, spark, jobs_started, tmp_path):
        (tmp_path / "a.csv").write_text("t,v\n")
        df, rows = self._load(spark, jobs_started, tmp_path)
        assert rows == []
        assert dict(df.dtypes)["ecg"] == "double"
        assert dict(df.dtypes)["ts"] == "timestamp"

    def test_iso_string_timestamps(self, spark, jobs_started, tmp_path):
        (tmp_path / "a.csv").write_text("t,v\n" + "".join(
            f"2024-01-01 00:00:{j:02d}.25,{j * 0.5}\n" for j in range(20)))
        df, rows = self._load(spark, jobs_started, tmp_path)
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert rows[3].ts.second == 3 and rows[3].ts.microsecond == 250000

    @pytest.mark.parametrize("scale", [1e3, 1e6])
    def test_ms_and_us_epochs(self, spark, jobs_started, tmp_path, scale):
        (tmp_path / "a.csv").write_text("t,v\n" + "".join(
            f"{int((1700000000 + j / 4) * scale)},0.5\n" for j in range(40)))
        _, rows = self._load(spark, jobs_started, tmp_path)
        assert rows[0].ts.timestamp() == 1700000000.0
        assert rows[1].ts.timestamp() == 1700000000.25

    def test_hidden_and_marker_files_are_skipped(self, spark, jobs_started,
                                                 tmp_path):
        # sorted first and unparseable as the data layout: a sniff that
        # read them would type or name the columns wrongly
        (tmp_path / "_SUCCESS").write_text("")
        (tmp_path / ".a.csv.crc").write_text("crc,junk\nxx,yy\n")
        (tmp_path / "s1.csv").write_text(
            "t,v\n" + "".join(f"{1700000000 + j},{j}.5\n" for j in range(9)))
        df, rows = self._load(spark, jobs_started, tmp_path)
        assert {r.subject_id for r in rows} == {"s1"} and len(rows) == 9
        assert dict(df.dtypes)["ts"] == "timestamp"

    def test_gzip_input_sniffed_through_bounded_inflate(
            self, spark, jobs_started, tmp_path, monkeypatch):
        import gzip

        from physioview_spark.sources import fsio

        reads = []
        real_head = fsio.read_head

        def head(spark, uri, max_bytes=65536):
            reads.append(max_bytes)
            return real_head(spark, uri, max_bytes)

        monkeypatch.setattr(fsio, "read_head", head)
        rng = np.random.default_rng(0)
        # ~1 MB of text: larger than the head read both packed and inflated
        body = "".join(f"{1700000000000 + 4 * j},{rng.normal():.9f}\n"
                       for j in range(40000))
        with gzip.open(tmp_path / "g.csv.gz", "wt") as f:
            f.write("t,v\n" + body)
        assert (tmp_path / "g.csv.gz").stat().st_size > 65536
        df, rows = self._load(spark, jobs_started, tmp_path)
        assert reads and max(reads) <= 65536
        assert len(rows) == 40000 and dict(df.dtypes)["ecg"] == "double"
        assert (rows[1].ts - rows[0].ts).microseconds == 4000
        assert rows[0].ts.timestamp() == 1700000000.0  # ms epoch

    def test_empty_dir_raises_value_error(self, spark, tmp_path):
        from physioview_spark.sources import load_signal_csv

        (tmp_path / "_SUCCESS").write_text("")
        with pytest.raises(ValueError, match="no CSV data files"):
            load_signal_csv(spark, str(tmp_path), "ecg", header_map=self.HM)


# ---------------------------------------------------------------- EDF S1/S2

class TestEdfSource:
    def _make_edf(self, tmp_path, fs_ecg=256, fs_acc=32, seconds=4):
        from physioview_spark.sources import write_edf_bytes

        rng = np.random.default_rng(7)
        n = fs_ecg * seconds
        ecg_uv = 500.0 * np.sin(2 * np.pi * 1.2 * np.arange(n) / fs_ecg)
        m = fs_acc * seconds
        signals = [
            {"label": "ECG0", "fs": fs_ecg, "data": ecg_uv, "dim": "uV"},
            {"label": "X", "fs": fs_acc, "data": rng.normal(0, 1, m)},
            {"label": "Y", "fs": fs_acc, "data": rng.normal(0, 1, m)},
            {"label": "Z", "fs": fs_acc, "data": 9.8 + rng.normal(0, .1, m)},
        ]
        p = str(tmp_path / "rec1.edf")
        with open(p, "wb") as f:
            f.write(write_edf_bytes(signals))
        return p, ecg_uv

    def test_roundtrip_decode(self, tmp_path, spark):
        from physioview_spark.sources import read_edf_bytes

        p, ecg_uv = self._make_edf(tmp_path)
        with open(p, "rb") as f:
            _, signals = read_edf_bytes(f.read())
        got = next(s for s in signals if s["label"] == "ECG0")
        assert got["fs"] == 256
        # int16 quantization bounds the round-trip error
        span = ecg_uv.max() - ecg_uv.min()
        assert np.max(np.abs(got["data"] - ecg_uv)) < span / 65000, \
            "EDF round-trip exceeded quantization error"

    def test_load_actiwave_distributed(self, tmp_path, spark):
        from physioview_spark.sources import load_actiwave

        p, ecg_uv = self._make_edf(tmp_path)
        frames = load_actiwave(spark, str(tmp_path))
        ecg = frames["ecg"].orderBy("sample_idx").toPandas()
        assert list(ecg["subject_id"].unique()) == ["rec1"]
        assert ecg["fs"].iloc[0] == 256.0
        # uV -> mV scaling (reference physioview.py:91)
        assert np.allclose(ecg["ecg"].values, ecg_uv / 1000.0, atol=1e-4)
        acc = frames["acc"].toPandas()
        assert {"x", "y", "z", "magnitude"} <= set(acc.columns)
        assert np.allclose(
            acc["magnitude"],
            np.sqrt(acc.x ** 2 + acc.y ** 2 + acc.z ** 2), atol=1e-12)

    def test_edf_plus_annotations_roundtrip(self, tmp_path, spark):
        """EDF+ TAL annotations (VERDICT r13 'missing' item 4): write a
        proper EDF+C annotations channel, read the (onset, duration,
        text) triples back — pyedflib's readAnnotations contract — and
        confirm the annotations channel never leaks into the signal
        list as scaled garbage."""
        from physioview_spark.sources import (
            load_annotations, read_edf_annotations, read_edf_bytes,
            write_edf_bytes,
        )

        fs, seconds = 128, 6
        n = fs * seconds
        anns = [(0.0, None, "recording starts"),
                (1.5, 2.0, "artifact run"),
                (1.5, 2.0, "lead off"),        # two texts, same onset
                (5.25, None, "café ☕"),       # utf-8 survives
                ]
        payload = write_edf_bytes(
            [{"label": "ECG0", "fs": fs,
              "data": np.sin(np.arange(n) / 17.0), "dim": "uV"}],
            annotations=anns)
        got = read_edf_annotations(payload)
        assert [(a["onset_s"], a["duration_s"], a["annotation"])
                for a in got] == anns
        # annotations channel is excluded from the signal list
        _, signals = read_edf_bytes(payload)
        assert [s["label"] for s in signals] == ["ECG0"]
        # signal decode is byte-identical to the annotation-less file
        plain = read_edf_bytes(write_edf_bytes(
            [{"label": "ECG0", "fs": fs,
              "data": np.sin(np.arange(n) / 17.0), "dim": "uV"}]))[1]
        assert np.array_equal(signals[0]["data"], plain[0]["data"])
        # distributed loader: one row per annotation, subject from path
        (tmp_path / "annrec.edf").write_bytes(payload)
        rows = (load_annotations(spark, str(tmp_path / "annrec.edf"))
                .orderBy("onset_s", "annotation").collect())
        assert [(r["subject_id"], r["onset_s"], r["duration_s"],
                 r["annotation"]) for r in rows] == [
            ("annrec", 0.0, None, "recording starts"),
            ("annrec", 1.5, 2.0, "artifact run"),
            ("annrec", 1.5, 2.0, "lead off"),
            ("annrec", 5.25, None, "café ☕"),
        ]
        # a plain EDF (no annotations channel) yields an empty frame
        p2, _ = self._make_edf(tmp_path)
        assert load_annotations(spark, p2).count() == 0

    def test_write_edf_rejects_sub_record_signals(self):
        """ADVICE r14 item 3: every signal shorter than one data record
        means zero complete records — a clear early ValueError, not an
        IndexError deep in the annotation chunking."""
        import pytest

        from physioview_spark.sources import write_edf_bytes

        short = [{"label": "ECG0", "fs": 128,
                  "data": np.zeros(64), "dim": "uV"}]  # 0.5 s at 1 s/rec
        with pytest.raises(ValueError, match="no complete data records"):
            write_edf_bytes(short, annotations=[(0.0, None, "x")])
        with pytest.raises(ValueError, match="no complete data records"):
            write_edf_bytes(short)

    def test_channel_fs_probe(self, tmp_path, spark):
        from physioview_spark.sources import get_channel_fs

        p, _ = self._make_edf(tmp_path)
        with open(p, "rb") as f:
            payload = f.read()
        assert get_channel_fs(payload, "ecg") == 256.0
        assert get_channel_fs(payload, "nope") is None

    def test_probe_actiwave_fs_bounded(self, tmp_path, spark):
        """Driver-side fs probe: right rates per file from header-only
        reads, no Spark job."""
        from physioview_spark.sources import probe_actiwave_fs, write_edf_bytes

        self._make_edf(tmp_path)  # rec1 at 256 Hz
        (tmp_path / "hi.edf").write_bytes(write_edf_bytes(
            [{"label": "ECG0", "fs": 512,
              "data": np.sin(np.arange(2048) / 5.0), "dim": "uV"}]))
        rates = probe_actiwave_fs(spark, str(tmp_path))
        by_name = {u.rsplit("/", 1)[-1]: v for u, v in rates.items()}
        assert by_name["rec1.edf"] == 256.0
        assert by_name["hi.edf"] == 512.0
        assert probe_actiwave_fs(spark, str(tmp_path), label="nope") == {}


# ------------------------------------------------------------- E4 S3/S4/S5

class TestEmpaticaSource:
    START = 1700000000.0

    def _make_zip(self, tmp_path):
        from physioview_spark.sources import write_e4_zip

        rng = np.random.default_rng(11)
        bvp = np.sin(2 * np.pi * 1.1 * np.arange(64 * 10) / 64.0)
        acc = rng.integers(-64, 64, size=(32 * 10, 3)).astype(float)
        eda = 2.0 + 0.1 * np.sin(np.arange(4 * 10) / 4.0)
        hr = 60.0 + rng.normal(0, 2, 10)
        temp = 33.0 + rng.normal(0, .05, 4 * 10)
        ibi = np.column_stack([
            np.cumsum(np.full(9, 0.9)), np.full(9, 0.9)])
        p = str(tmp_path / "e4subj.zip")
        write_e4_zip(p, self.START, acc=acc, bvp=bvp, eda=eda, hr=hr,
                     temp=temp, ibi=ibi)
        return p, bvp, acc, ibi

    def test_streams_units_and_grid(self, spark, tmp_path):
        from physioview_spark.sources import load_empatica

        p, bvp, acc, ibi = self._make_zip(tmp_path)
        frames = load_empatica(spark, p)

        b = frames["bvp"].orderBy("sample_idx").toPandas()
        assert len(b) == len(bvp) and b["fs"].iloc[0] == 64.0
        assert np.allclose(b["bvp"], bvp, atol=1e-6)
        # ts grid spacing = 1/fs
        dt = np.diff(b["ts"].values.astype("datetime64[us]").astype(np.int64))
        assert np.all(dt == int(1e6 / 64))

        a = frames["acc"].orderBy("sample_idx").toPandas()
        # raw/64*9.81 conversion (reference physioview.py:370-372)
        assert np.allclose(a[["x", "y", "z"]].values,
                           acc / 64.0 * 9.81, atol=1e-6)

        i = frames["ibi"].orderBy("ts").toPandas()
        assert np.allclose(i["ibi"], ibi[:, 1] * 1000.0)  # s -> ms

    def test_align_hrv_unfill(self, spark, tmp_path):
        from physioview_spark.sources import align_hrv, load_empatica

        p, bvp, _, ibi = self._make_zip(tmp_path)
        frames = load_empatica(spark, p)
        aligned = align_hrv(frames["bvp"], frames["ibi"], frames["hr"])
        pdf = aligned.orderBy("sample_idx").toPandas()
        assert len(pdf) == len(bvp)
        # un-fill: exactly one BVP row per IBI event carries the value
        assert int(pdf["ibi"].notna().sum()) == len(ibi)
        assert int(pdf["hr"].notna().sum()) == 10

    def test_probe_empatica_fs_bounded(self, spark, tmp_path):
        """Driver-side E4 fs probe: per-stream rates from the ZIP member
        headers, no Spark job, no full-archive decode."""
        from physioview_spark.sources import probe_empatica_fs

        p, *_ = self._make_zip(tmp_path)
        assert list(probe_empatica_fs(spark, p, "bvp").values()) == [64.0]
        assert list(probe_empatica_fs(spark, p, "eda").values()) == [4.0]
        assert list(probe_empatica_fs(
            spark, str(tmp_path), "temp").values()) == [4.0]


# ----------------------------------------------------- bounded driver IO

class TestFsio:
    def test_read_head_and_range(self, spark, tmp_path):
        from physioview_spark.sources import fsio

        p = tmp_path / "blob.bin"
        p.write_bytes(bytes(range(256)) * 4)
        assert fsio.read_head(spark, str(p), 10) == bytes(range(10))
        assert fsio.read_range(spark, str(p), 250, 10) == bytes(
            [250, 251, 252, 253, 254, 255, 0, 1, 2, 3])
        # clamped at EOF
        assert fsio.read_range(spark, str(p), 1020, 100) == bytes(
            [252, 253, 254, 255])
        assert fsio.file_length(spark, str(p)) == 1024

    def test_local_path_parsing(self):
        from physioview_spark.sources.fsio import local_path

        assert local_path("/a/b.csv") == "/a/b.csv"
        assert local_path("file:/a/b.csv") == "/a/b.csv"
        assert local_path("file:///a/b.csv") == "/a/b.csv"
        assert local_path("file://localhost/a/b.csv") == "/a/b.csv"
        # a real authority must NOT collapse to /host/p
        assert local_path("file://host/p") is None
        assert local_path("s3a://bucket/key") is None

    def test_hadoop_seekable_reads_zip_member(self, spark, tmp_path):
        """The Hadoop-stream wrapper (remote-scheme path) must let
        zipfile random-access an archive; forced here on a local file
        through Hadoop's LocalFileSystem."""
        import io
        import zipfile

        from physioview_spark.sources.fsio import _HadoopRaw

        p = tmp_path / "arch.zip"
        with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("EDA.csv", "1700000000.0\n4.0\n" + "2.5\n" * 5000)
            zf.writestr("other.txt", "x" * 10000)
        with io.BufferedReader(
                _HadoopRaw(spark, "file://" + str(p))) as fh:
            zf = zipfile.ZipFile(fh)
            assert set(zf.namelist()) == {"EDA.csv", "other.txt"}
            with zf.open("EDA.csv") as m:
                head = m.read(64).decode().splitlines()
        assert float(head[1]) == 4.0


# ------------------------------------------------- Beat editor S13/S14/Q5

class TestBeatEditor:
    def _samples(self, spark, n=1000, fs=100.0):
        import pandas as pd

        beats = np.full(n, np.nan)
        beats[50::100] = 1.0
        pdf = pd.DataFrame({
            "subject_id": "s1",
            "sample_idx": np.arange(n, dtype=np.int64),
            "ts": (np.int64(1700000000) * 1000000
                   + np.arange(n, dtype=np.int64) * 10000
                   ).astype("datetime64[us]"),
            "signal": np.sin(np.arange(n) / 7.0),
            "beat": beats,
        })
        return spark.createDataFrame(pdf), pdf

    def test_sink_roundtrip(self, spark, tmp_path):
        from physioview_spark.sources import write_beat_editor_json

        df, pdf = self._samples(spark)
        out = str(tmp_path / "editor")
        write_beat_editor_json(df, out, fs=100.0, signal_col="signal")
        back = spark.read.json(out + "/subject_id=s1")
        rows = back.orderBy("Timestamp").collect()
        assert len(rows) == 1000
        assert {"Timestamp", "Segment", "Signal", "Beat"} <= set(back.columns)
        assert rows[0]["Timestamp"] == 1700000000 * 1000  # epoch ms
        assert rows[0]["Segment"] == 1

    def test_process_edits_ts_mode(self, spark, tmp_path):
        from physioview_spark.sources import (process_beat_edits,
                                              read_beat_edits)

        df, pdf = self._samples(spark)
        base_ms = 1700000000 * 1000
        edits = [
            {"x": base_ms + 50 * 10, "editType": "DELETE"},   # beat @50
            {"x": base_ms + 200 * 10, "editType": "ADD"},     # new beat @200
            {"x": base_ms + 201 * 10 + 1, "editType": "ADD"}, # within 2ms of 201
            {"from": base_ms + 340 * 10, "to": base_ms + 360 * 10,
             "editType": "UNUSABLE"},                          # beat @350
        ]
        epath = str(tmp_path / "s1_edited.json")
        with open(epath, "w") as f:
            for e in edits:
                f.write(json.dumps(e) + "\n")
        edf = read_beat_edits(spark, epath)
        assert edf.first()["subject_id"] == "s1"

        out = process_beat_edits(df, edf).orderBy("sample_idx").toPandas()
        assert out.loc[50, "deleted_beat"] == 1.0
        assert np.isnan(out.loc[50, "edited"])
        assert out.loc[200, "added_beat"] == 1.0
        assert out.loc[200, "edited"] == 1.0
        assert out.loc[201, "added_beat"] == 1.0
        # unusable span kills the beat at 350 but keeps the flag rows
        assert out.loc[350, "unusable"] == 1.0
        assert np.isnan(out.loc[350, "edited"])
        assert out.loc[150, "edited"] == 1.0  # untouched beat survives
        n_final = int(out["edited"].notna().sum())
        # 10 original - 1 deleted - 1 unusable + 2 added
        assert n_final == 10

    def test_process_edits_sample_mode(self, spark):
        from physioview_spark.sources import process_beat_edits

        df, pdf = self._samples(spark)
        edits = spark.createDataFrame(
            [(150.4, None, None, "DELETE", "s1"),
             (600.0, None, None, "ADD", "s1"),
             (None, 40.0, 60.0, "UNUSABLE", "s1")],
            "x double, `from` double, `to` double, editType string, "
            "subject_id string")
        out = process_beat_edits(df, edits, use_ts=False) \
            .orderBy("sample_idx").toPandas()
        assert out.loc[150, "deleted_beat"] == 1.0  # 150.4 -> nearest 150
        assert out.loc[600, "edited"] == 1.0
        assert out.loc[50, "unusable"] == 1.0
        assert np.isnan(out.loc[50, "edited"])


# ------------------------------------------------------- resampling K19-21

class TestResampling:
    def test_fourier_resample_band_limited_exact(self):
        from physioview_spark.dsp.apply import fourier_resample

        t = np.arange(512) / 64.0
        x = np.sin(2 * np.pi * 2.0 * t)
        up = fourier_resample(x, 1024)
        assert len(up) == 1024
        assert np.max(np.abs(up[::2] - x)) < 1e-9

    def test_resample_poly_ratio_and_len(self):
        from physioview_spark.dsp.apply import resample_poly

        x = np.sin(2 * np.pi * 1.0 * np.arange(400) / 40.0)
        y = resample_poly(x, 2, 5)
        assert len(y) == 160
        ref = np.sin(2 * np.pi * 1.0 * np.arange(160) / 16.0)
        assert np.max(np.abs(y[16:-16] - ref[16:-16])) < 5e-3

    def test_decimate_fir_antialias(self):
        from physioview_spark.dsp.apply import decimate_fir

        fs, factor = 1000, 4
        t = np.arange(8000) / fs
        lo = np.sin(2 * np.pi * 5 * t)
        hi = np.sin(2 * np.pi * 400 * t)  # above decimated Nyquist
        y = decimate_fir(lo + hi, factor)
        assert len(y) == 2000
        ref = np.sin(2 * np.pi * 5 * np.arange(2000) / (fs / factor))
        # the 400 Hz component must be attenuated away
        assert np.max(np.abs(y[100:-100] - ref[100:-100])) < 0.05


class TestEdfTimeAligned:
    def test_acc_resampled_onto_ecg_grid(self, tmp_path, spark):
        from physioview_spark.sources import load_actiwave, write_edf_bytes

        fs_ecg, fs_acc, seconds = 128, 32, 4
        n, m = fs_ecg * seconds, fs_acc * seconds
        t_e = np.arange(n) / fs_ecg
        t_a = np.arange(m) / fs_acc
        ecg_uv = 800.0 * np.sin(2 * np.pi * 1.0 * t_e)
        x = np.sin(2 * np.pi * 0.5 * t_a)  # band-limited -> exact resample
        signals = [
            {"label": "ECG0", "fs": fs_ecg, "data": ecg_uv, "dim": "uV"},
            {"label": "X", "fs": fs_acc, "data": x},
            {"label": "Y", "fs": fs_acc, "data": np.zeros(m)},
            {"label": "Z", "fs": fs_acc, "data": np.ones(m)},
        ]
        p = str(tmp_path / "al.edf")
        with open(p, "wb") as f:
            f.write(write_edf_bytes(signals))

        frames = load_actiwave(spark, str(tmp_path), time_aligned=True)
        assert set(frames) == {"aligned"}
        al = frames["aligned"].orderBy("sample_idx").toPandas()
        assert len(al) == n and al["fs"].iloc[0] == fs_ecg
        # resampled X follows the original sinusoid on the ECG grid
        want = np.sin(2 * np.pi * 0.5 * t_e)
        err = np.abs(al["x"].to_numpy() - want)
        assert np.max(err[20:-20]) < 0.02
        assert np.allclose(al["z"].to_numpy()[10:-10], 1.0, atol=0.02)


class TestIngestValidation:
    def test_csv_member_validity(self):
        from physioview_spark.sources.csv import is_valid_csv_member

        assert is_valid_csv_member("data/subj1.csv")
        assert not is_valid_csv_member("__MACOSX/subj1.csv")
        assert not is_valid_csv_member("data/.hidden.csv")
        assert not is_valid_csv_member("subj1.txt")
        assert not is_valid_csv_member("dir.csv/")

    def test_header_probe_and_homogeneity(self, spark, tmp_path):
        from physioview_spark.sources.csv import (
            probe_csv_headers, validate_batch_headers,
        )

        for i in range(3):
            (tmp_path / f"f{i}.csv").write_text(
                "ts,ecg\n1,2\n3,4\n")
        (tmp_path / "odd.csv").write_text("time,value\n1,2\n")

        assert probe_csv_headers(
            spark, str(tmp_path / "f0.csv")) == ["ts", "ecg"]
        ok, _ = validate_batch_headers(
            spark, [str(tmp_path / f"f{i}.csv") for i in range(3)])
        assert ok
        ok, headers = validate_batch_headers(spark, str(tmp_path))
        assert not ok and len(headers) == 4

    def test_header_validation_is_bounded(self, spark, tmp_path,
                                          monkeypatch):
        """S8 scale guard: validation cost must be per-FILE, not
        per-byte — a multi-MB CSV contributes one bounded head read, no
        full scan, no shuffle (ADVICE r1 #5)."""
        import builtins

        from physioview_spark.sources import csv as csv_mod, fsio

        big = tmp_path / "big.csv"
        with open(big, "w") as f:
            f.write("ts,ecg\n")
            for i in range(400_000):          # ~10 MB of data rows
                f.write(f"{i},0.123456789012345\n")
        (tmp_path / "small.csv").write_text("ts,ecg\n1,2\n")

        reads: list[int] = []
        real_open = builtins.open

        def counting_open(path, *a, **kw):
            fh = real_open(path, *a, **kw)
            real_read = fh.read

            def read(n=-1):
                data = real_read(n)
                reads.append(len(data))
                return data

            fh.read = read
            return fh

        monkeypatch.setattr(fsio, "open", counting_open, raising=False)
        ok, headers = csv_mod.validate_batch_headers(spark, str(tmp_path))
        assert ok and len(headers) == 2
        assert reads, "local head reads should go through open()"
        assert max(reads) <= 65536, f"unbounded read: {max(reads)} bytes"


class TestShuffleFreeIngest:
    def test_partitioned_indexing_matches_default(self, spark, tmp_path):
        from physioview_spark.sources import load_signal_csv

        rng = np.random.default_rng(2)
        for i in range(4):
            n = 500 + i * 100
            with open(tmp_path / f"s{i}.csv", "w") as f:
                f.write("t,v\n")
                for j in range(n):
                    f.write(f"{j},{rng.normal():.6f}\n")
        hm = {"t": "ts", "v": "ecg"}
        default = (load_signal_csv(spark, str(tmp_path), "ecg", hm,
                                   has_ts=False)
                   .orderBy("subject_id", "sample_idx").toPandas())
        fast_df = load_signal_csv(spark, str(tmp_path), "ecg", hm,
                                  has_ts=False, assume_partitioned=True)
        fast = fast_df.orderBy("subject_id", "sample_idx").toPandas()
        # identical frames, and the fast plan never shuffles
        assert (default["sample_idx"].values == fast["sample_idx"].values).all()
        assert (default["subject_id"].values == fast["subject_id"].values).all()
        np.testing.assert_allclose(default["ecg"].values, fast["ecg"].values)
        plan = fast_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestEventsTsRepresentations:
    def test_read_normalizes_nanos_and_micros_identically(
            self, spark, tmp_path):
        """The driver has shipped events.ts as TIMESTAMP(NANOS) (r01-r04)
        and as timestamp[us] (r05+). common.read must yield the SAME
        normalized frame for the same instants in either representation
        (the r05 streaming failure class)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from physioview_spark.plans.common import read

        us = [1704067200_000000, 1704067212_345678]  # 2024-01-01 + 12.3s
        base = {"event_id": [1, 2], "user_id": [7, 7],
                "event_type": ["purchase", "error"], "value": [1.0, 2.0],
                "props": ['{"k":1}', '{"k":2}']}
        d_us = str(tmp_path / "us"); d_ns = str(tmp_path / "ns")
        for d, ty, vals in (
                (d_us, pa.timestamp("us"), us),
                (d_ns, pa.timestamp("ns"), [v * 1000 for v in us])):
            t = pa.table({**base, "ts": pa.array(vals, type=ty)})
            import os
            os.makedirs(d)
            pq.write_table(t, f"{d}/events.parquet",
                           store_schema=False)  # plain logical types
        a = read(spark, d_us, "events")
        b = read(spark, d_ns, "events")
        assert dict(a.dtypes)["ts"].startswith("timestamp")
        ra = [(r["event_id"], str(r["ts"])) for r in
              a.orderBy("event_id").collect()]
        rb = [(r["event_id"], str(r["ts"])) for r in
              b.orderBy("event_id").collect()]
        assert ra == rb
        assert "2024-01-01" in ra[0][1]


class TestJsonlSource:
    def test_roundtrip_and_quarantine(self, spark, tmp_path):
        import json
        p = tmp_path / "shard.jsonl"
        lines = [
            json.dumps({"doc_id": 1, "text": "hello world", "lang": "en",
                        "source": "s0", "n_chars": 11}),
            '{"doc_id": 2, "text": "truncated',          # malformed
            json.dumps({"doc_id": 3, "text": "ok", "lang": "de",
                        "source": "s1", "n_chars": 2}),
            "not json at all",
        ]
        p.write_text("\n".join(lines) + "\n")
        from physioview_spark import sources
        good, bad = sources.load_jsonl(spark, str(p))
        g = {r["doc_id"]: r for r in good.collect()}
        assert set(g) == {1, 3}
        assert g[1]["text"] == "hello world"
        assert good.columns == ["doc_id", "text", "lang", "source",
                                "n_chars"]
        quarantined = [r["_corrupt_record"] for r in bad.collect()]
        assert len(quarantined) == 2
        assert "not json at all" in quarantined

    def test_type_mismatch_quarantined_not_silently_nulled(self, spark,
                                                           tmp_path):
        p = tmp_path / "s.jsonl"
        p.write_text('{"doc_id": "abc", "text": "x", "lang": "en", '
                     '"source": "s", "n_chars": 1}\n')
        from physioview_spark import sources
        good, bad = sources.load_jsonl(spark, str(p))
        assert good.count() == 0 and bad.count() == 1

    def test_write_jsonl_roundtrip(self, spark, tmp_path):
        from physioview_spark import sources
        df = spark.createDataFrame(
            [(1, "a b", "en", "s0", 3), (2, "c", "de", "s1", 1)],
            sources.DOCUMENTS_SCHEMA)
        out = str(tmp_path / "out")
        sources.write_jsonl(df, out, n_files=1)
        back, bad = sources.load_jsonl(spark, out)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, df.collect()))
        assert bad.count() == 0


class TestZorderLayout:
    def test_files_localize_every_clustered_dim(self, spark, tmp_path):
        """Z-ordered files each cover a small rectangle of (x, y), so
        min/max pruning works for filters on EITHER column — unlike a
        plain sort on x, which smears y across every file."""
        import pyarrow.parquet as pq

        from physioview_spark.sources.layout import write_zordered

        n, files = 4096, 16
        df = spark.range(n).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        zdir = tmp_path / "zorder"
        write_zordered(df, str(zdir), ["x", "y"], n_files=files)

        def spans(d):
            out = []
            for p in sorted(d.glob("part-*.parquet")):
                md = pq.ParquetFile(str(p)).metadata
                lo = {"x": None, "y": None}
                hi = {"x": None, "y": None}
                for rg in range(md.num_row_groups):
                    row = md.row_group(rg)
                    for ci in range(row.num_columns):
                        col = row.column(ci)
                        name = col.path_in_schema
                        if name in lo:
                            st = col.statistics
                            lo[name] = st.min if lo[name] is None \
                                else min(lo[name], st.min)
                            hi[name] = st.max if hi[name] is None \
                                else max(hi[name], st.max)
                out.append((lo, hi))
            return out

        sp = spans(zdir)
        assert len(sp) == files
        # every file covers a bounded rectangle: on average well under
        # half of each 64-wide dimension (a plain x-sort gives y spans
        # of ~the full range in every file)
        for dim in ("x", "y"):
            avg = sum(hi[dim] - lo[dim] for lo, hi in sp) / len(sp)
            assert avg < 32, (dim, avg)
        # pruning simulation: a quadrant filter on y alone skips most
        # files (file skipped iff its [min,max] misses the predicate)
        hit_y = sum(1 for lo, hi in sp if not (hi["y"] < 0 or lo["y"] > 15))
        assert hit_y <= files / 2
        # data survives intact
        back = spark.read.parquet(str(zdir))
        assert back.count() == n
        assert back.agg(F.sum("payload")).first()[0] == n * (n - 1) // 2

    def test_single_column_and_null_handling(self, spark, tmp_path):
        from physioview_spark.sources.layout import write_zordered

        df = spark.range(100).select(
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id")).alias("x"))
        out = tmp_path / "z1"
        write_zordered(df, str(out), ["x"], n_files=4)
        back = spark.read.parquet(str(out))
        assert back.count() == 100
        assert back.where(F.col("x").isNull()).count() == 10


def test_zorder_four_columns_stay_positive(spark):
    """bits*n_cols must clamp to the positive range of a signed long —
    without the clamp the 4-column default-bits interleave shifts into
    the sign bit and the far corner sorts before the origin."""
    from physioview_spark.sources.layout import zorder_value

    df = spark.range(256).select(
        (F.col("id") % 4).alias("a"), (F.col("id") / 4 % 4).cast("long").alias("b"),
        (F.col("id") / 16 % 4).cast("long").alias("c"),
        (F.col("id") / 64).cast("long").alias("d"))
    out, morton = zorder_value(df, ["a", "b", "c", "d"])  # default bits
    vals = [r["z"] for r in out.select(morton.alias("z")).collect()]
    assert min(vals) >= 0
    # max corner is the largest value (15 bits per dim, 4 dims)
    mx = out.select(F.max(morton).alias("m")).first()["m"]
    assert mx == max(vals)


class TestSizedWrite:
    def test_partition_count_tracks_target(self, spark, tmp_path):
        """Halving target_mb must not decrease the file count, and the
        produced files must actually exist with data intact."""
        import os

        from physioview_spark.sources.layout import write_sized
        df = spark.range(50_000).selectExpr(
            "id", "repeat('x', 200) as pad")
        p1 = str(tmp_path / "big")
        p2 = str(tmp_path / "small")
        n_big = write_sized(df, p1, target_mb=64)
        n_small = write_sized(df, p2, target_mb=1)
        assert n_small >= n_big >= 1
        back = spark.read.parquet(p2)
        assert back.count() == 50_000
        files = [f for f in os.listdir(p2) if f.endswith(".parquet")]
        assert len(files) == n_small

    def test_empty_and_caps(self, spark, tmp_path):
        from physioview_spark.sources.layout import write_sized
        p = str(tmp_path / "empty")
        assert write_sized(spark.range(0), p) == 1
        assert spark.read.parquet(p).count() == 0
        p2 = str(tmp_path / "capped")
        n = write_sized(spark.range(100_000), p2, target_mb=1,
                        max_partitions=4)
        assert n <= 4


class TestExportS12:
    """sources/export.py — S12 Excel/Zip summary export (reference
    dashboard/utils.py:374-420, 688-776) on stdlib zip/SpreadsheetML.
    Verification reads the artifacts back with zipfile + ElementTree —
    the same structure any SpreadsheetML consumer parses."""

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

    def _sheet_cells(self, zf, idx):
        import xml.etree.ElementTree as ET
        root = ET.fromstring(zf.read(f"xl/worksheets/sheet{idx}.xml"))
        rows = []
        for row in root.iter(f"{self.NS}row"):
            vals = []
            for c in row.iter(f"{self.NS}c"):
                t = c.attrib.get("t")
                if t == "inlineStr":
                    vals.append(c.find(f"{self.NS}is/{self.NS}t").text)
                else:
                    v = c.find(f"{self.NS}v")
                    vals.append(None if v is None else v.text)
            rows.append(vals)
        return rows

    def _sheet_names(self, zf):
        import xml.etree.ElementTree as ET
        root = ET.fromstring(zf.read("xl/workbook.xml"))
        return [s.attrib["name"] for s in root.iter(f"{self.NS}sheet")]

    def test_excel_roundtrip_types_and_summary(self, spark, tmp_path):
        import zipfile

        from physioview_spark.sources import export_excel
        sqa = spark.createDataFrame(
            [(1, 60.5, "ok & <fine>"), (2, None, None)],
            "segment int, mean_hr double, note string")
        ibi = spark.createDataFrame([(0, 800.0), (1, 812.5)],
                                    "beat int, ibi_ms double")
        path = str(tmp_path / "out.xlsx")
        sheets = export_excel({"SQA": sqa, "IBI": ibi}, path,
                              summary={"Device": "E4", "Segments": "2"})
        assert sheets == ["Quality Summary", "SQA", "IBI"]
        with zipfile.ZipFile(path) as zf:
            # package structure a consumer requires
            names = set(zf.namelist())
            assert {"[Content_Types].xml", "_rels/.rels",
                    "xl/workbook.xml", "xl/_rels/workbook.xml.rels",
                    "xl/worksheets/sheet1.xml"} <= names
            assert self._sheet_names(zf) == sheets
            qs = self._sheet_cells(zf, 1)
            assert qs == [["Metric", "Value"], ["Device", "E4"],
                          ["Segments", "2"]]
            cells = self._sheet_cells(zf, 2)
            assert cells[0] == ["segment", "mean_hr", "note"]
            # numbers stay numeric cells; XML-special text escapes;
            # NULLs become empty cells
            assert cells[1] == ["1", "60.5", "ok & <fine>"]
            assert cells[2] == ["2", None, None]
            assert self._sheet_cells(zf, 3)[1:] == [["0", "800.0"],
                                                    ["1", "812.5"]]

    def test_excel_sheet_split_and_name_rules(self, spark, tmp_path):
        import zipfile

        import pytest as _pt

        from physioview_spark.sources import export_excel
        df = spark.range(7).selectExpr("id")
        path = str(tmp_path / "split.xlsx")
        # 7 rows at max_rows=3 -> 3 sheets; a 34-char name with
        # forbidden chars truncates to 31 WITH the suffix intact
        sheets = export_excel(
            {"a/very:long*name[for]a_sqa_summary": df}, path, max_rows=3)
        assert [s[-2:] for s in sheets] == ["_1", "_2", "_3"]
        assert all(len(s) <= 31 for s in sheets)
        assert all("/" not in s and ":" not in s for s in sheets)
        with zipfile.ZipFile(path) as zf:
            counts = [len(self._sheet_cells(zf, i)) - 1 for i in (1, 2, 3)]
            assert counts == [3, 3, 1]
            got = [v for i in (1, 2, 3)
                   for row in self._sheet_cells(zf, i)[1:] for v in row]
            assert got == [str(i) for i in range(7)]
        # an exact-boundary frame does NOT grow a suffix
        path2 = str(tmp_path / "exact.xlsx")
        assert export_excel({"t": spark.range(3)}, path2,
                            max_rows=3) == ["t"]
        # truncation collisions fail loudly, not as a corrupt workbook
        long_a = "x" * 40 + "a"
        long_b = "x" * 40 + "b"
        with _pt.raises(ValueError, match="duplicate sheet name"):
            export_excel({long_a: df, long_b: df},
                         str(tmp_path / "dup.xlsx"))
        with _pt.raises(ValueError, match="max_rows"):
            export_excel({"t": df}, str(tmp_path / "bad.xlsx"),
                         max_rows=0)

    def test_excel_quote_sheet_names_and_illegal_values(
            self, spark, tmp_path):
        """ADVICE r11: `"` is LEGAL in an Excel sheet name but lands in
        the name="..." attribute of xl/workbook.xml — it must be
        entity-escaped, not passed through (a raw quote yields a
        workbook no XML parser opens). Likewise C0 controls in cell
        values have NO escaped XML form and must be substituted, and
        +/-inf is not valid SpreadsheetML numeric content."""
        import zipfile

        from physioview_spark.sources import export_excel
        df = spark.createDataFrame(
            [(1, float("inf"), "bad\x01ctrl"),
             (2, float("-inf"), 'attr "quote" & <amp>'),
             (3, float("nan"), None)],
            "k int, v double, s string")
        path = str(tmp_path / "quoted.xlsx")
        sheets = export_excel({'SQA "clean" & co': df}, path)
        assert sheets == ['SQA "clean" & co']
        with zipfile.ZipFile(path) as zf:
            # both parts must PARSE (ElementTree rejects raw quotes in
            # attributes and raw \x01 anywhere) and round-trip values
            assert self._sheet_names(zf) == ['SQA "clean" & co']
            cells = self._sheet_cells(zf, 1)
            assert cells[0] == ["k", "v", "s"]
            # inf/-inf/nan all land as empty cells (None), the C0
            # control is substituted with U+FFFD, quotes round-trip
            assert cells[1] == ["1", None, "bad�ctrl"]
            assert cells[2] == ["2", None, 'attr "quote" & <amp>']
            assert cells[3] == ["3", None, None]

    # -- S12 reference parity (dashboard/utils.py:688-746 _make_excel) --

    REF_FRAMES = {
        # (rows, schema) for two summary frames, as the reference would
        # read them back from its per-session CSVs
        "SQA": ([(1, 60.5, "ok"), (2, 58.0, "artifact")],
                "Segment int, Mean_HR double, Label string"),
        "IBI": ([(0, 800.0), (1, 812.5), (2, 790.0)],
                "beat int, ibi_ms double"),
    }
    REF_SUMMARY = {"Device": "E4", "Segments": "2"}

    def _export_ours(self, spark, tmp_path):
        from physioview_spark.sources import export_excel
        frames = {n: spark.createDataFrame(rows, schema)
                  for n, (rows, schema) in self.REF_FRAMES.items()}
        path = str(tmp_path / "ours.xlsx")
        export_excel(frames, path, max_rows=2, summary=self.REF_SUMMARY)
        return path

    def test_excel_reference_grid_fixture(self, spark, tmp_path):
        """Cell-for-cell grid pinned to what the reference's
        ``_make_excel`` emits for the same frames (utils.py:706-715
        summary -> Metric/Value sheet; :724-733 chunking -> ``name_1``,
        ``name_2`` when num_sheets > 1, bare name otherwise, headers
        re-written per chunk via ``to_excel(index=False)``). This is
        the always-on parity gate; the two-writer comparison below
        additionally runs wherever openpyxl exists."""
        import zipfile

        path = self._export_ours(spark, tmp_path)
        with zipfile.ZipFile(path) as zf:
            assert self._sheet_names(zf) == [
                "Quality Summary", "SQA", "IBI_1", "IBI_2"]
            grids = {n: self._sheet_cells(zf, i + 1)
                     for i, n in enumerate(self._sheet_names(zf))}
        assert grids["Quality Summary"] == [
            ["Metric", "Value"], ["Device", "E4"], ["Segments", "2"]]
        assert grids["SQA"] == [
            ["Segment", "Mean_HR", "Label"],
            ["1", "60.5", "ok"], ["2", "58.0", "artifact"]]
        # each chunk repeats the header row, exactly like per-chunk
        # to_excel(index=False)
        assert grids["IBI_1"] == [
            ["beat", "ibi_ms"], ["0", "800.0"], ["1", "812.5"]]
        assert grids["IBI_2"] == [["beat", "ibi_ms"], ["2", "790.0"]]

    def test_excel_reference_writer_parity(self, spark, tmp_path):
        """Two-writer comparison: run the reference's own pandas/
        openpyxl path (same to_excel calls as utils.py:688-746) on the
        same frames and diff the parsed cell grids. Skips where
        openpyxl is absent (this container); the grid fixture above is
        the always-on stand-in."""
        openpyxl = pytest.importorskip("openpyxl")
        import pandas as pd

        ref_path = str(tmp_path / "ref.xlsx")
        with pd.ExcelWriter(ref_path) as xlsx:
            pd.DataFrame(list(self.REF_SUMMARY.items()),
                         columns=["Metric", "Value"]).to_excel(
                xlsx, sheet_name="Quality Summary", index=False)
            for name, (rows, schema) in self.REF_FRAMES.items():
                cols = [f.split()[0] for f in schema.split(", ")]
                df = pd.DataFrame(rows, columns=cols)
                max_rows = 2
                num_sheets = (len(df) + max_rows - 1) // max_rows
                for j in range(num_sheets):
                    chunk = df.iloc[j * max_rows:(j + 1) * max_rows]
                    if chunk.empty:
                        continue
                    sheet = (f"{name}_{j + 1}" if num_sheets > 1
                             else name)[:31]
                    chunk.to_excel(xlsx, sheet_name=sheet, index=False)

        def grid(path):
            wb = openpyxl.load_workbook(path, read_only=True)
            out = {}
            for ws in wb.worksheets:
                out[ws.title] = [
                    [None if c is None else str(c) for c in row]
                    for row in ws.iter_rows(values_only=True)]
            return out

        ours, ref = grid(self._export_ours(spark, tmp_path)), grid(ref_path)
        assert list(ours) == list(ref)
        # numbers may render "1" vs "1.0"/"60.5" identically via str();
        # ints from Spark land as int cells both sides, so str parity
        # holds cell-for-cell
        assert ours == ref

    def test_zip_roundtrip_pandas_readable(self, spark, tmp_path):
        """The zip members must be real CSVs: read back with pandas
        (quoting, embedded commas/newlines, empty fields)."""
        import io
        import zipfile

        import pandas as pd

        from physioview_spark.sources import export_zip
        df = spark.createDataFrame(
            [(1, 'with, comma', 'quote " inside'),
             (2, 'line\nbreak', None)],
            "k int, a string, b string")
        path = str(tmp_path / "out.zip")
        members = export_zip({"SQA": df, "IBI": spark.range(2)}, path)
        assert members == ["SQA.csv", "IBI.csv"]
        with zipfile.ZipFile(path) as zf:
            back = pd.read_csv(io.BytesIO(zf.read("SQA.csv")))
            assert list(back.columns) == ["k", "a", "b"]
            assert back["a"].tolist() == ["with, comma", "line\nbreak"]
            assert back["b"][0] == 'quote " inside'
            assert pd.isna(back["b"][1])
            assert pd.read_csv(
                io.BytesIO(zf.read("IBI.csv")))["id"].tolist() == [0, 1]
