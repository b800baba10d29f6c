"""The local oracle gate's tolerance mode: an ulp-level perturbation of
a pinned fixture (the signature of a numpy/BLAS upgrade) must be
diagnosed as STALE-regenerate, while a genuinely different value stays a
hard FAIL."""

from __future__ import annotations

import importlib.util
import math
import os

_SPEC = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "check_oracle.py"),
)
check_oracle = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(check_oracle)


def _rows(vals):
    return [{"id": i, "x": v} for i, v in enumerate(vals)]


class TestCompareValues:
    def test_exact_match_ok(self):
        status, _ = check_oracle.compare_values(
            _rows([1.25, 2.5]), ["id", "x"], _rows([1.25, 2.5]), ["id", "x"])
        assert status == "ok"

    def test_ulp_perturbation_is_stale(self):
        """Nudge a value across the 6-decimal rounding boundary by one
        ulp: the exact (rounded-repr) compare differs, the tolerance
        compare matches -> 'stale', with the regeneration diagnosis."""
        v = 0.1234565  # rounds to 0.123456 or 0.123457 depending on ulp
        pert = math.nextafter(v, 1.0)
        assert round(v, 6) != round(pert, 6)  # the boundary actually flips
        status, detail = check_oracle.compare_values(
            _rows([v, 2.5]), ["id", "x"], _rows([pert, 2.5]), ["id", "x"])
        assert status == "stale"
        assert "mismatch" in detail

    def test_real_difference_is_fail(self):
        status, _ = check_oracle.compare_values(
            _rows([1.25, 2.5]), ["id", "x"], _rows([1.25, 2.6]), ["id", "x"])
        assert status == "fail"

    def test_pairing_follows_key_columns_not_float_order(self):
        """Tolerance re-check row pairing: rows align on the non-float
        (key) columns, not on the floats' sort position. Two rows whose
        float values are SWAPPED between the sides must therefore FAIL —
        a float-led sort would pair equal floats from different rows and
        misreport the swap as harmless numeric drift. (Column name 'm'
        sorts before 'z_id', so the float led the old sort key.)"""
        a = [{"m": 1.0, "z_id": 1}, {"m": 1.5, "z_id": 2}]
        b = [{"m": 1.5, "z_id": 1}, {"m": 1.0, "z_id": 2}]
        status, _ = check_oracle.compare_values(
            a, ["m", "z_id"], b, ["m", "z_id"])
        assert status == "fail"

    def test_ulp_drift_stays_stale_when_float_leads_sort(self):
        """The misalignment class the fix targets: with the float column
        alphabetically first, an ulp flip must still pair each row with
        its twin and diagnose 'stale'."""
        v = 0.1234565
        pert = math.nextafter(v, 1.0)
        a = [{"m": v, "z_id": 1}, {"m": 2.5, "z_id": 2}]
        b = [{"m": pert, "z_id": 1}, {"m": 2.5, "z_id": 2}]
        status, _ = check_oracle.compare_values(
            a, ["m", "z_id"], b, ["m", "z_id"])
        assert status == "stale"

    def test_nan_pairs_match(self):
        status, _ = check_oracle.compare_values(
            _rows([float("nan")]), ["id", "x"],
            _rows([float("nan")]), ["id", "x"])
        assert status == "ok"

    def test_grid_knife_edge_is_stale(self):
        """Declared queries round floats to 6 decimals IN-QUERY, so a
        cross-engine ulp flip at the rounding boundary shows as exactly
        one 1e-6 grid step (perm_entropy 0.232642 vs 0.232643 on the
        r17 null axis) — outside rel=1e-6 for values < 1, but still a
        knife-edge, classified stale."""
        status, _ = check_oracle.compare_values(
            _rows([0.232642, 2.5]), ["id", "x"],
            _rows([0.232643, 2.5]), ["id", "x"])
        assert status == "stale"

    def test_two_grid_steps_is_fail(self):
        """One grid step and no more: a 2e-6 difference is off the
        knife-edge and stays a hard FAIL."""
        status, _ = check_oracle.compare_values(
            _rows([0.232642, 2.5]), ["id", "x"],
            _rows([0.232644, 2.5]), ["id", "x"])
        assert status == "fail"

    def test_computed_oracles_share_tolerance_channel(self, sf_dir):
        """VERDICT r17 item 3: the stale (knife-edge) classification
        must apply to COMPUTED oracles too, not only pinned fixtures —
        a 1-ulp flip at the 6-decimal rounding boundary
        (eda_extended_features perm_entropy on the null axis) is
        numeric drift, not a wrong answer. Pin: ``check_query`` passes
        one grid step against a live-SQL oracle as 'stale' and fails
        three."""
        from pyspark.sql import Row
        from pyspark.sql.types import DoubleType, StructField, StructType

        class Frame:
            columns = ["v"]
            schema = StructType([StructField("v", DoubleType())])

            def collect(self):
                return [Row(v=0.232642)]

        def query(spark, sf_dir):
            return Frame()

        status, detail = check_oracle.check_query(
            None, sf_dir, "q", query, "SELECT CAST(0.232643 AS DOUBLE) AS v")
        assert status == "stale" and "knife-edge" in detail
        status, _ = check_oracle.check_query(
            None, sf_dir, "q", query, "SELECT CAST(0.232645 AS DOUBLE) AS v")
        assert status == "fail"

    def test_versions_note_mentions_drift_or_match(self):
        note = check_oracle._versions_note()
        assert ("versions match" in note) or ("drift" in note) \
            or ("no VERSIONS.json" in note)


class TestComplexCols:
    """The driver's canonicalizer sorts with pandas sort_values, which
    dies on list/dict cells — the replica must red-flag any declared
    query whose Spark schema carries Array/Map/Struct columns BEFORE the
    compare (r07 shipped two driver-red array queries past a fully-green
    local rehearsal because the replica repr()'d cells)."""

    def test_array_column_flagged(self):
        from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                       StructField, StructType)
        schema = StructType([
            StructField("label", LongType()),
            StructField("centroid", ArrayType(DoubleType())),
        ])
        assert check_oracle.complex_cols(schema) == ["centroid"]

    def test_map_and_struct_flagged(self):
        from pyspark.sql.types import (LongType, MapType, StringType,
                                       StructField, StructType)
        schema = StructType([
            StructField("m", MapType(StringType(), LongType())),
            StructField("s", StructType([StructField("a", LongType())])),
            StructField("ok", StringType()),
        ])
        assert check_oracle.complex_cols(schema) == ["m", "s"]

    def test_scalar_schema_clean(self):
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType)
        schema = StructType([
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("x", DoubleType()),
        ])
        assert check_oracle.complex_cols(schema) == []

    def test_no_declared_query_emits_complex_columns(self):
        """Static sweep of the full registry source: every @q-declared
        query function in plans/ must not end in a select that keeps an
        array column un-exploded. Cheap proxy (no Spark session): the
        two r07 offenders are pinned by name to the flattened shape."""
        import __spark_entry__ as e  # noqa: F401  (import check only)
        import inspect

        from physioview_spark.plans import queries_llm

        src = inspect.getsource(queries_llm.embedding_label_centroids)
        assert "posexplode" in src
        src = inspect.getsource(queries_llm.embedding_quantize_int8)
        assert "posexplode" in src
