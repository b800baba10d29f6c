"""The oracle gate: every declared query against its DuckDB oracle.

Runs each declared query through Spark AND its DuckDB oracle on the same
parquet tables, then compares column names, row count, and an
order-insensitive value comparison (:func:`check_query`). Tier-1 runs
the same check per query (tests/test_registry_smoke.py); this script
sweeps it over any corpus. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = None
                else:
                    v = round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def _sorted_tuples(rows, cols):
    """Rows as column-sorted tuples, ordered so the tolerance re-check
    zips the SAME logical rows on both sides: non-float columns (ids,
    strings — usually a unique key) lead the sort key, and floats are
    rounded coarsely (3 dp) before comparison, so an ulp flip at the
    6-decimal boundary cannot move a row's sort position and misalign
    the pairing (which would misclassify stale fixtures as FAIL)."""
    def key(v):
        if isinstance(v, float):
            return (repr(type(v)), repr(None if math.isnan(v)
                                         else round(v, 3)))
        return (repr(type(v)), repr(v))

    def row_key(t):
        nonfloat = [key(v) for v in t if not isinstance(v, float)]
        floats = [key(v) for v in t if isinstance(v, float)]
        return (nonfloat, floats)

    out = [tuple(r[c] for c in sorted(cols)) for r in rows]
    return sorted(out, key=row_key)


def _close(a, b, rel=1e-6, abs_=1e-9) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if math.isclose(a, b, rel_tol=rel, abs_tol=abs_):
            return True
        # 6-decimal GRID knife-edge (r18): most declared queries ROUND
        # their float outputs to 6 decimals in-query, so a cross-engine
        # last-ulp flip at the rounding boundary surfaces as a
        # difference of exactly one grid step (1e-6 absolute) — outside
        # the relative tolerance for values < 1, yet still numeric
        # drift, not a wrong answer (eda_extended_features perm_entropy
        # 0.232642 vs 0.232643 on the null axis). One grid step and no
        # more: a genuine kernel bug lands off-grid or several steps
        # away. The driver's gate stays an exact hash — this channel
        # only classifies the local replica's diagnosis.
        return abs(a - b) <= 1.0000001e-6
    return a == b


def compare_values(srows, scols, drows, dcols):
    """('ok'|'stale'|'fail', detail): the exact (6-decimal-rounded) hash
    compare, with a float-tolerance re-check distinguishing NUMERIC-ONLY
    drift from a genuinely wrong answer.

    'stale' = every value matches within (rel 1e-6, abs 1e-9) but the
    exact compare differs — the signature of a fixture generated under a
    different numpy/BLAS build (an ulp flip moving a value across the
    6-decimal rounding boundary), not of a kernel bug.
    """
    a = normalize(srows, scols)
    b = normalize(drows, dcols)
    if a == b:
        return "ok", ""
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    detail = (f"{len(diffs)} value mismatches; first: "
              f"spark={diffs[0][0]!r} duck={diffs[0][1]!r}")
    ta = _sorted_tuples(srows, scols)
    tb = _sorted_tuples(drows, dcols)
    for ra, rb in zip(ta, tb):
        for va, vb in zip(ra, rb):
            if not _close(va, vb):
                return "fail", detail
    return "stale", detail


def complex_cols(schema) -> list[str]:
    """Columns the DRIVER's canonicalizer cannot handle.

    The driver sorts the result with pandas ``sort_values``, which
    raises ``TypeError: unhashable type: 'list'`` on any cell holding a
    list/dict (r07 lost both array-output queries this way despite a
    92/92-green local dress rehearsal — this replica ``repr()``s cells
    so list columns compared fine here). Declared queries must emit
    scalars only; flatten arrays with ``posexplode`` before declaring.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def _versions_note() -> str:
    """Recorded fixture-generation versions vs the running ones."""
    from physioview_spark.plans.common import FIXTURE_DIR

    path = os.path.join(FIXTURE_DIR, "VERSIONS.json")
    try:
        with open(path) as f:
            recorded = json.load(f)
    except OSError:
        return "no VERSIONS.json recorded"
    import platform

    import numpy
    import pandas
    import pyarrow
    import pyspark
    current = {
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }
    drift = {k: (recorded.get(k), v) for k, v in current.items()
             if recorded.get(k) != v}
    if drift:
        return "library drift since fixture generation: " + ", ".join(
            f"{k} {old} -> {new}" for k, (old, new) in sorted(drift.items()))
    return "recorded versions match the running ones"


def _duck_connect(sf_dir: str):
    """Fresh bounded DuckDB connection with the table views.

    A single long-lived connection accumulated buffer-manager state
    across a 101-query sf0.1 sweep and — under the container's memory
    pressure (x100-corpus page cache) — cascaded into
    ``Out of Memory Error: Failed to allocate block`` from ~query 80
    onward, then segfaulted (r17; the same environmental mode the
    quiet-machine memory note records). A per-query connection bounds
    DuckDB state at one query's working set, and the explicit limits
    keep the oracle side from competing with the Spark driver for the
    container's memory: one thread per core this process may run on,
    the rule ``get_spark`` sizes ``local[N]`` by."""
    con = duckdb.connect()
    con.execute("SET memory_limit='16GB'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, sf_dir: str, name: str, fn, sql: str):
    """('ok'|'stale'|'fail', detail): declared query ``fn`` against its
    DuckDB oracle ``sql`` on the tables in ``sf_dir`` — column set, row
    count, then :func:`compare_values`. 'stale' is numeric-only drift
    (see :func:`compare_values`): a pass, with a diagnosis in
    ``detail``."""
    from physioview_spark import cache
    from physioview_spark.plans.common import FIXTURE_DIR

    # operator-internal pins accumulate across a 101-query sweep (JVM
    # storage blocks on a 1 GiB default heap) — release the previous
    # query's before building the next
    cache.release_pinned()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        bad = complex_cols(sdf.schema)
        if bad:
            return "fail", (
                f"complex-typed declared columns {bad} — the driver's "
                f"pandas canonicalizer cannot sort list/struct cells; "
                f"posexplode/flatten before declaring")
        srows = [row.asDict() for row in sdf.collect()]
    except Exception as ex:
        return "fail", f"spark error: {ex}"
    try:
        con = _duck_connect(sf_dir)
        try:
            ddf = con.execute(sql).fetch_arrow_table()
        finally:
            con.close()
    except Exception as ex:
        return "fail", f"duckdb error: {ex}"
    dcols = ddf.column_names
    drows = ddf.to_pylist()
    if set(scols) != set(dcols):
        return "fail", f"cols spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return "fail", f"rowcount spark={len(srows)} duck={len(drows)}"
    status, detail = compare_values(srows, scols, drows, dcols)
    if status == "ok":
        return "ok", f"{len(srows)} rows"
    if status == "fail":
        return "fail", detail
    if FIXTURE_DIR in sql:
        # numeric-only drift on a PINNED fixture: not a kernel bug —
        # the fixture predates a library upgrade.
        return "stale", (
            f"values match within tolerance but differ exactly "
            f"({_versions_note()}); regenerate with `python "
            f"tools/make_fixture_oracles.py {name}`")
    # VERDICT r17 item 3: a computed oracle on a 6-decimal rounding
    # knife-edge (1-ulp cross-engine float drift, e.g. perm_entropy on
    # the null axis) is numeric drift too, not a wrong answer.
    return "stale", (
        "knife-edge — every value matches within (rel 1e-6, abs 1e-9) "
        "but an exact 6-decimal compare differs (cross-engine float ulp "
        "at a rounding boundary), not a kernel bug")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from physioview_spark.session import get_spark

    spark = get_spark("oracle-check")

    oracles = e.oracle_sql()
    counts = {"ok": 0, "stale": 0, "fail": 0}
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        status, detail = check_query(spark, sf_dir, name, fn, oracles[name])
        counts[status] += 1
        print(f"{status.upper() if status != 'ok' else status:5s} {name}: "
              f"{detail} [{time.time() - t0:.1f}s]")
    print(f"\n{counts['ok']} ok, {counts['stale']} stale, "
          f"{counts['fail']} FAIL")
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
