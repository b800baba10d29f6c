"""The benchmark's workloads: seeded inputs, one run, and an output check.

Each workload is a closed loop with one client: ``run`` is called again
only after the previous call returned and the benchmark holds every
output (collected rows or counts). ``check`` compares the outputs of one
run against an independent truth (synthetic ground truth or the DuckDB
oracle); ``same`` compares a later run's outputs with the checked ones.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SF01 = os.path.join(HERE, "data", "sf0.1")


def _rows(df_rows) -> list[dict]:
    return [r.asDict() for r in df_rows]


def _same_rows(a: list[dict], b: list[dict]) -> bool:
    """Equal as sets of rows within the oracle checker's float tolerance."""
    from check_oracle import compare_values

    if len(a) != len(b):
        return False
    cols = list(a[0]) if a else []
    return compare_values(a, cols, b, cols)[0] in ("ok", "stale")


class EcgCohortCsv:
    """File-per-subject ECG CSVs at 256 Hz through ``run_pipeline``: 8
    subjects x 3 min, two per core, so tasks queue and skew shows."""

    name = "ecg_cohort_csv"
    subjects = 8
    duration_s = 180  # a whole number of 60 s segments
    fs = 256.0
    input_rows = subjects * duration_s * int(fs)

    def __init__(self):
        self.truth: dict[str, np.ndarray] = {}
        self.signals: dict[str, np.ndarray] = {}
        self.path = ""

    def config(self):
        from physioview_spark.config import PipelineConfig

        return PipelineConfig(dtype="ECG", fs=self.fs,
                              headers={"Timestamp": "ts", "ECG": "ecg"})

    def prepare(self, seed: int, work: str) -> None:
        from physioview_spark.testing import synth_ecg

        rng = np.random.RandomState(seed)
        self.path = os.path.join(work, "ecg_csv")
        os.makedirs(self.path, exist_ok=True)
        t0 = 1.7e9 + rng.randint(0, 10**6)
        for i in range(self.subjects):
            sid = f"s{i:03d}"
            x, beats = synth_ecg(fs=self.fs, duration=self.duration_s,
                                 hr=float(rng.uniform(65, 95)),
                                 seed=int(rng.randint(0, 2**31 - 1)))
            ts = t0 + np.arange(len(x)) / self.fs
            with open(os.path.join(self.path, f"{sid}.csv"), "w") as fh:
                fh.write("Timestamp,ECG\n")
                fh.writelines(f"{t:.6f},{v:.6f}\n" for t, v in zip(ts, x))
                # written back now, not during the timed runs
                fh.flush()
                os.fsync(fh.fileno())
            self.truth[sid] = beats
            self.signals[sid] = np.round(x, 6)

    def run(self, spark) -> dict:
        from physioview_spark.pipeline import run_pipeline

        out = run_pipeline(spark, self.config(), path=self.path)
        return {
            "frames": out,
            "metrics": _rows(out["metrics"].collect()),
            "summary": _rows(out["summary"].collect()),
            "ibi_rows": out["ibi"].count(),
        }

    def check(self, spark, held: dict) -> list[str]:
        from pyspark.sql import functions as F

        from physioview_spark.testing import beat_match_stats

        problems = []
        beats = (held["frames"]["samples"].where(F.col("beat") == 1)
                 .select("subject_id", "sample_idx").collect())
        by_subject: dict[str, list[int]] = {}
        for r in beats:
            by_subject.setdefault(r.subject_id, []).append(r.sample_idx)
        for sid, truth in self.truth.items():
            recall, precision = beat_match_stats(
                np.array(sorted(by_subject.get(sid, []))), truth, self.fs)
            # the detector contract of tests/test_detectors.py
            if recall < 0.95 or precision < 0.95:
                problems.append(f"{sid}: beat recall {recall:.3f} "
                                f"precision {precision:.3f}")
        per_subject: dict[str, int] = {}
        for r in held["metrics"]:
            per_subject[r["subject_id"]] = per_subject.get(r["subject_id"], 0) + 1
        segments = self.duration_s // self.config().seg_size
        if per_subject != {s: segments for s in self.truth}:
            problems.append(f"segments per subject {per_subject}, "
                            f"want {segments}")
        if len(held["summary"]) != self.subjects:
            problems.append(f"summary rows {len(held['summary'])}")
        if held["ibi_rows"] != self.input_rows:
            problems.append(f"ibi rows {held['ibi_rows']} != {self.input_rows}")
        return problems

    def drained(self, held: dict) -> list:
        return [held["frames"][k] for k in ("ibi", "metrics", "summary")]

    def same(self, held: dict, ref: dict) -> bool:
        return (held["ibi_rows"] == ref["ibi_rows"]
                and _same_rows(held["metrics"], ref["metrics"])
                and _same_rows(held["summary"], ref["summary"]))


QUERY_V3 = "doc_curation_pipeline_v3"


class CurationV3:
    """``doc_curation_pipeline_v3`` over the sf0.1 documents table: a copy
    of the fixed, read-only test table, committed under data/ because the
    benchmark reads only its own checkout."""

    name = "curation_v3_sf0.1"
    sf_dir = DATA_SF01

    def __init__(self):
        self.oracle_dir = ""
        self.input_rows = 0

    def prepare(self, seed: int, work: str) -> None:
        # The table is fixed; a single query leaves nothing for the seed
        # to order.
        import pyarrow.parquet as pq

        self.input_rows = pq.ParquetFile(
            os.path.join(self.sf_dir, "documents.parquet")).metadata.num_rows
        self.oracle_dir = os.path.join(os.path.dirname(work), "oracle")

    def run(self, spark) -> dict:
        import __spark_entry__ as entry

        df = entry.queries()[QUERY_V3](spark, self.sf_dir)
        return {"df": df, "rows": _rows(df.collect())}

    def oracle_rows(self) -> list[dict]:
        """DuckDB oracle result, cached in the checkout by the hash of the
        oracle SQL, the table bytes and the DuckDB version (the recursive
        connected-components CTE takes ~40 s on 4 cores)."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()[QUERY_V3]
        table = os.path.join(self.sf_dir, "documents.parquet")
        h = hashlib.sha256(sql.encode())
        h.update(duckdb.__version__.encode())
        with open(table, "rb") as fh:
            h.update(fh.read())
        cached = os.path.join(self.oracle_dir, f"{h.hexdigest()[:24]}.json")
        if os.path.exists(cached):
            with open(cached) as fh:
                return json.load(fh)
        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{table}')")
            rows = con.execute(sql).fetch_arrow_table().to_pylist()
        finally:
            con.close()
        os.makedirs(self.oracle_dir, exist_ok=True)
        tmp = f"{cached}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(rows, fh)
        os.replace(tmp, cached)
        return rows

    def check(self, spark, held: dict) -> list[str]:
        from check_oracle import compare_values

        want = self.oracle_rows()
        got = held["rows"]
        if len(got) != len(want):
            return [f"rows spark={len(got)} duckdb={len(want)}"]
        cols = list(want[0]) if want else []
        if sorted(cols) != sorted(got[0] if got else []):
            return [f"columns spark={sorted(got[0])} duckdb={sorted(cols)}"]
        status, detail = compare_values(got, cols, want, cols)
        return [] if status in ("ok", "stale") else [detail]

    def drained(self, held: dict) -> list:
        return [held["df"]]

    def same(self, held: dict, ref: dict) -> bool:
        return _same_rows(held["rows"], ref["rows"])


WORKLOADS = {w.name: w for w in (EcgCohortCsv, CurationV3)}
