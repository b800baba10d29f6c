"""Cardiac SQA metrics — A1-A5 of the operator inventory, fully relational.

Parity targets (behavior, not code):
- ``get_artifacts``  — per-segment beat/artifact counts
  (reference: pipeline/SQA.py:199-277)
- ``get_missing``    — per-segment expected-beat model with the median-of-
  5-beat-window-medians HR estimate, prev/next half-segment fallback,
  last-valid-HR carry-forward, last-partial-segment rescale, leading-segment
  backfill (reference: pipeline/SQA.py:503-629, _window_medians :1751-1764)
- ``compute_metrics``— A1 join A2 + Invalid rule (reference: SQA.py:177-197)
- rolling variant    — sliding size/step windows (reference: SQA.py:114-175)
- ``get_seconds``    — per-second harmonic-mean HR (Graham 1978)
  (reference: SQA.py:631-723)

Spark-first design: the reference's per-segment Python loop with mutable
``last_valid_hr`` state becomes a chain of window functions
(``last(ignorenulls)`` for carry-forward, ``first(ignorenulls)`` over the
following frame for backfill), so the whole computation is one shuffle on
``(subject_id, segment)`` plus ordered windows per subject — no Python, no
collect, scales per-subject to arbitrary cohort sizes. Only beat rows (a few
per second) enter the window stages; the dense sample frame is scanned once
and immediately collapsed map-side to a per-(subject, segment) aggregate
that feeds both the segment spine and the timestamp column.

Construction cost: every projection, aggregate and window is built from
SQL expression strings (``selectExpr`` / ``F.expr``), not Column trees.
Each Column node costs py4j round trips to the driver JVM
(``F.col("a")`` alone is 13, ``F.col("a") + 1`` is 24) while an
expression string of any size costs 1-3, and the optimized plans are
the same.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

B = "subject_id"


def _d(x: float) -> str:
    """SQL DOUBLE literal (a bare ``1.5`` is DECIMAL in Spark SQL)."""
    return f"{float(x)!r}D"


def _sdiv(num: str, den: str) -> str:
    """ANSI-safe division (null on zero denominator)."""
    return f"({num}) / nullif({den}, 0)"


def _pct(num: str, den: str) -> str:
    return f"round({_sdiv(num, den)} * 100.0D, 2)"


def _segment(seg_len: int) -> str:
    return f"CAST(floor(sample_idx / {seg_len}) + 1 AS BIGINT)"


def _over(*keys: str, order: str, frame: str = "") -> str:
    return f"OVER (PARTITION BY {', '.join(keys)} ORDER BY {order} {frame})"


RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _with(df: DataFrame, **exprs: str) -> DataFrame:
    """``withColumn`` over SQL expression strings, as ONE projection: a
    named column is replaced in place, a new one is appended."""
    cols = df.columns
    keep = [f"{exprs[c]} AS {c}" if c in exprs else c for c in cols]
    new = [f"{e} AS {c}" for c, e in exprs.items() if c not in cols]
    if keep == cols:
        keep = ["*"]
    return df.selectExpr(*keep, *new)


def _agg(df: DataFrame, keys: list[str], aggs: list[str]) -> DataFrame:
    """``groupBy(keys).agg(aggs)`` over SQL expression strings."""
    return df.groupBy(*map(F.expr, keys)).agg(*map(F.expr, aggs))


def _arr_median(arr: str) -> str:
    """Exact median of a (null-free) array expression; null for empty
    arrays.

    Spark disallows ``median`` over framed windows, so sliding medians are
    ``collect_list`` over the frame (nulls dropped) + this expression."""
    n, srt = f"size({arr})", f"sort_array({arr})"
    return (
        f"CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {n} % 2 = 1 THEN element_at({srt}, CAST(({n} + 1) / 2 AS INT)) "
        f"ELSE (element_at({srt}, CAST({n} / 2 AS INT)) "
        f"+ element_at({srt}, CAST({n} / 2 + 1 AS INT))) / 2.0D END"
    )


def _invalid(min_hr: float, seg_size: int) -> str:
    """Invalid: fewer detected beats than ``min_hr`` implies for the
    segment, or more than 220 (reference: pipeline/SQA.py:193-196)."""
    lo = int(min_hr * (seg_size / 60.0))
    return (f"CAST(CASE WHEN n_detected < {lo} OR n_detected > 220 "
            "THEN 1 END AS INT)")


def _seg_samples(
    samples: DataFrame, fs: float, seg_size: int, with_ts: bool,
    with_artifacts: bool = False,
) -> DataFrame:
    """ONE partially-aggregated pass over the (potentially dense) sample
    frame: per-(subject, segment) max index and — when requested — first
    timestamp and artifact count.  Everything ``get_missing`` (and, with
    ``with_artifacts``, ``compute_metrics``) needs from the raw samples
    derives from this small frame, so the full-size input is scanned and
    shuffled once, after a map-side combine that collapses each scan
    partition to its distinct segments.

    Persist lifecycle: the returned frame is pinned via
    :func:`physioview_spark.cache.pin` at plan construction — the same
    registry the llm/ operators use. Release is EXPLICIT-ONLY: wrap
    invocations in ``cache.pinned_frames()`` (the pins drop on scope
    exit) or call ``cache.release_pinned()`` periodically; an unscoped
    pin lives in the session-global ``CacheManager`` until one of
    those runs or the session ends. (NOT until Python GC: Spark's
    CacheManager registers the InMemoryRelation by logical plan and
    holds it independently of any Python or JVM Dataset object, so
    dropping references never frees the blocks — which is also why
    ``cache._PINNED`` must hold strong references: a weakref registry
    would lose the only handle that can still unpersist. ADVICE r17
    item 2 corrected the old GC-fallback claim here.) Cost: one
    ~rows/seg_len cached frame per unscoped operator call.
    Plan-shape-sensitive tooling uses the scope so any later plan
    containing an EQUAL subtree is not silently rewritten to
    InMemoryRelation (tools/plan_census.py does exactly this per
    query).
    """
    seg_len = int(fs * seg_size)
    aggs = ["max(sample_idx) AS seg_max_idx"]
    if with_ts:
        # ts is monotone in sample_idx, so min(ts) = first-sample ts
        aggs.append("min(ts) AS ts")
    if with_artifacts:
        aggs.append(
            "sum(CASE WHEN artifact = 1 THEN 1 ELSE 0 END) AS n_artifact")
    out = _agg(samples, [B, f"{_segment(seg_len)} AS segment"], aggs)
    # Downstream references prune different columns (spine wants
    # seg_max_idx, the ts join wants ts, compute_metrics wants
    # n_artifact), which defeats ReuseExchange — without a persist each
    # reference would re-expand the aggregate and re-scan the full
    # sample frame. The frame is ~rows/seg_len, trivially cacheable.
    from physioview_spark import cache

    return cache.pin(out)


def _segment_spine(seg_samples: DataFrame, seg_len: int) -> DataFrame:
    """Per-subject segment spine from the pre-aggregated segment frame.

    ``n_seg = ceil(n_samples / (fs*seg_size))`` — the reference's segment
    spine covers every segment, including beat-free ones
    (reference: pipeline/SQA.py:243-244).  Grid length from the max index,
    not the row count — identical on a dense frame, correct when the
    caller passes a sparse one; reads the tiny per-segment aggregate
    instead of re-scanning the sample frame.
    """
    spine = _agg(seg_samples, [B], ["max(seg_max_idx) + 1 AS n_samples"])
    spine = _with(spine, n_seg=f"ceil(n_samples / {seg_len})")
    spine = _with(spine, segment="explode(sequence(1, n_seg))")
    return spine.selectExpr(
        B, "segment", "n_seg",
        f"CAST(least(n_samples, segment * {seg_len}) AS BIGINT)"
        f" - (segment - 1) * {seg_len} AS seg_n_samples")


def _beats_frame(samples: DataFrame, fs: float, seg_size: int) -> DataFrame:
    """Sparse beat rows with segment id, IBI (lag diff) and artifact flag."""
    seg_len = int(fs * seg_size)
    beats = samples.where("beat = 1").selectExpr(B, "sample_idx", "artifact")
    beats = _with(
        beats,
        ibi_ms=f"(sample_idx - lag(sample_idx) {_over(B, order='sample_idx')})"
               f" / {_d(fs)} * 1000.0D")
    return _with(beats, segment=_segment(seg_len))


def get_artifacts(
    samples: DataFrame, fs: float, seg_size: int = 60, with_ts: bool = True
) -> DataFrame:
    """Per-segment N Artifact / % Artifact (+ first segment timestamp).

    One hash aggregation (partial+final via Catalyst); the first-timestamp
    column uses ``min(ts)`` because ts is monotone in sample_idx.
    """
    seg_len = int(fs * seg_size)
    aggs = [
        "sum(CASE WHEN beat = 1 THEN 1 ELSE 0 END) AS n_detected",
        "sum(CASE WHEN artifact = 1 THEN 1 ELSE 0 END) AS n_artifact",
    ]
    if with_ts:
        aggs.append("min(ts) AS ts")
    out = _agg(samples, [B, f"{_segment(seg_len)} AS segment"], aggs)
    out = _with(out, pct_artifact=_pct("n_artifact", "n_detected"))
    cols = [B, "segment"] + (["ts"] if with_ts else []) + [
        "n_detected", "n_artifact", "pct_artifact"
    ]
    return out.selectExpr(*cols)


def _windowed_beats(
    beats: DataFrame, win_size: int = 5, keys: tuple[str, ...] = ("segment",)
) -> DataFrame:
    """Per-beat sliding 5-beat window median HR + validity columns.

    Mirrors ``_window_medians`` (reference: pipeline/SQA.py:1751-1764): a
    window is the beat and its next ``win_size-1`` beats *within the same
    (subject, keys) group*; windows containing any artifact are skipped;
    the median ignores null IBIs (the recording's first beat has none), so
    an all-null window yields a null median that still counts as "a window
    existed" — that distinction gates the reference's fallback chain.
    Returns every beat row with ``med_hr`` and a ``__valid`` flag rather
    than filtering, so callers can aggregate window medians AND raw beat
    counts in the same pass (one shuffle on ``(subject, keys)``).
    """
    w = _over(B, *keys, order="sample_idx",
              frame=f"ROWS BETWEEN CURRENT ROW AND {win_size - 1} FOLLOWING")
    # one projection per window column keeps the three Window operators
    # of the Column-tree form (one merged operator is a different plan)
    wb = _with(beats, __n=f"count(1) {w}")
    wb = _with(wb, __any_art=f"max(artifact = 1) {w}")
    wb = _with(wb, med_hr=_arr_median(
        f"collect_list({_sdiv(_d(60000.0), 'ibi_ms')}) {w}"))
    return _with(
        wb, __valid=f"__n = {win_size} AND NOT coalesce(__any_art, false)")


def get_missing(
    samples: DataFrame, fs: float, seg_size: int = 60, with_ts: bool = True,
    seg_samples: DataFrame | None = None,
) -> DataFrame:
    """Per-segment N Detected / N Expected / N Missing / % Missing.

    The reference's sequential loop state becomes window functions:
    carry-forward = ``last(ignorenulls)`` over preceding segments, leading
    backfill = ``first(ignorenulls)`` over following segments (valid because
    after carry-forward the nulls form a prefix).

    Single-reference design: the sparse beat frame is consumed by exactly
    ONE downstream pipeline (each beat row explodes into its window tags,
    then one windowed aggregation produces every median family and the
    detected counts), so no persist is needed — Catalyst sees one lineage
    and the expensive beat extraction runs once by construction.  (The
    pre-r15 form referenced beats four times and needed a MEMORY_AND_DISK
    persist to avoid re-expansion.)

    The dense sample frame is read once and immediately collapsed to a
    per-(subject, segment) aggregate (``_seg_samples``) that feeds both
    the segment spine and the timestamp column — at corpus scale that is
    the only full-size shuffle, and it is map-side-combined down to
    ~rows/seg_len before crossing the wire.  ``compute_metrics`` passes a
    pre-built ``seg_samples`` (same keys, extra artifact sums) so ITS
    artifact counts ride the same single scan.
    """
    seg_len = int(fs * seg_size)
    beats = _beats_frame(samples, fs, seg_size)
    if seg_samples is None:
        seg_samples = _seg_samples(samples, fs, seg_size, with_ts)
    spine = _segment_spine(seg_samples, seg_len)

    # ONE window pass for all three median families. Each beat row
    # explodes into its window tags — tag 0 = the own-segment 5-beat
    # windows, and the reference's adjacent-segment fallback slices over
    # the last/first ``int(seg_size*0.5)`` *rows* of each segment
    # (reference: pipeline/SQA.py:560-570; tag 1 = last half, consumed
    # by segment+1; tag 2 = first half, consumed by segment-1) — so the
    # beats lineage is referenced ONCE and windowed on (subject,
    # segment, tag): one Exchange of <= 2x the beat rows instead of
    # three Exchanges plus three spine joins. A single groupBy on the
    # TARGET segment then pivots the tags into columns; ``__valid``
    # masks invalid windows out of the medians / window counts while
    # every tag-0 row still feeds ``n_detected``.
    #
    # Slice bounds are pure arithmetic — no join with an extents frame.
    # ``seg_start = (segment-1)*seg_len`` always; for ``seg_end`` the
    # nominal ``segment*seg_len`` equals the reference's
    # ``min(n_samples, ...)`` clamp on every segment except the final
    # one (``n_seg = ceil`` guarantees ``n_samples > (n_seg-1)*
    # seg_len``), and the final segment's "last half" windows land on
    # target ``n_seg + 1`` — outside the spine, dropped by the join —
    # so the clamp is unobservable. That shift contract is what makes
    # the join-free form exact.
    k = int(seg_size * 0.5)
    tagged = _with(beats, tag=(
        "explode(array_compact(array(0, "
        f"CASE WHEN sample_idx >= segment * {seg_len} - {k} THEN 1 END, "
        f"CASE WHEN sample_idx < (segment - 1) * {seg_len} + {k} THEN 2 END"
        ")))"))
    wb = _windowed_beats(tagged, keys=("segment", "tag"))
    target = ("segment + CASE WHEN tag = 1 THEN 1 WHEN tag = 2 THEN -1 "
              "ELSE 0 END AS segment")
    seg_agg = _agg(wb, [B, target], [
        "median(CASE WHEN __valid AND tag = 0 THEN med_hr END) AS seg_med",
        "count(CASE WHEN __valid AND tag = 0 THEN 1 END) AS seg_n_win",
        "count(CASE WHEN tag = 0 THEN 1 END) AS n_detected",
        "median(CASE WHEN __valid AND tag = 1 THEN med_hr END)"
        " AS last_half_med",
        "count(CASE WHEN __valid AND tag = 1 THEN 1 END) AS last_half_n",
        "median(CASE WHEN __valid AND tag = 2 THEN med_hr END)"
        " AS first_half_med",
        "count(CASE WHEN __valid AND tag = 2 THEN 1 END) AS first_half_n",
    ])

    m = (
        # JOIN CONTRACT (load-bearing): seg_agg contains out-of-spine
        # targets BY DESIGN — tag-1 rows of the final segment land on
        # target n_seg+1 and tag-2 rows of segment 1 land on target 0;
        # this left join from the spine is what discards them (and what
        # makes the unclamped seg_end bound above exact). If the join
        # type or the spine's coverage ever changes, add an explicit
        # ``target BETWEEN 1 AND n_seg`` filter on seg_agg first.
        spine.join(seg_agg, [B, "segment"], "left")
    )
    # Fallback chain: own windows > prev-half windows > next-half windows;
    # "windows existed" (count > 0) gates each stage even if the median is
    # null (reference: SQA.py:561-572).
    m = _with(
        m,
        n_detected="coalesce(n_detected, 0)",
        exp_hr_raw=(
            "CASE WHEN coalesce(seg_n_win, 0) > 0 THEN seg_med"
            " WHEN coalesce(last_half_n, 0) > 0 THEN last_half_med"
            " WHEN coalesce(first_half_n, 0) > 0 THEN first_half_med END"))
    m = _with(m, exp_hr="last(exp_hr_raw, true) "
                        + _over(B, order="segment", frame=RUNNING))
    m = _with(m, n_expected_f=(
        f"CAST(round(exp_hr * ({seg_size} / 60.0D)) AS DOUBLE)"))
    # Last partial segment: rescale by actual/nominal duration
    # (reference: SQA.py:597-600).
    m = _with(m, n_expected_f=(
        "CASE WHEN segment = n_seg THEN round(n_expected_f"
        f" * (seg_n_samples / {_d(fs)} / {seg_size}))"
        " ELSE n_expected_f END"))
    # Leading backfill as a RUNNING frame over the reversed order:
    # first(ignorenulls) over [current, unbounded following] makes Spark's
    # WindowExec re-scan the tail for every row — O(n^2) per subject
    # (measured: a single 28.9 s straggler task on the sf0.1 spine,
    # guide §1.1/§7.1) — while last(ignorenulls) over
    # [unbounded preceding, current] is the incremental running frame,
    # O(n). Identical values: segment is unique per subject, so the
    # reversed order has no ties.
    m = _with(m, n_expected=(
        "CAST(last(n_expected_f, true) "
        f"{_over(B, order='segment DESC', frame=RUNNING)} AS BIGINT)"))
    m = _with(m, n_missing="greatest(0, n_expected - n_detected)")
    m = _with(m, pct_missing=_pct("n_missing", "n_expected"))
    cols = [B, "segment", "n_detected", "n_expected", "n_missing", "pct_missing"]
    if with_ts:
        # first-sample ts per segment rides the SAME _seg_samples pass
        # that built the spine — no second scan of the sample frame
        m = m.join(seg_samples.selectExpr(B, "segment", "ts"),
                   [B, "segment"], "left")
        cols = [B, "segment", "ts"] + cols[2:]
    return m.selectExpr(*cols)


def compute_metrics(
    samples: DataFrame,
    fs: float,
    seg_size: int = 60,
    min_hr: float = 40.0,
    with_ts: bool = True,
) -> DataFrame:
    """Segmented SQA metric frame = get_missing + artifact counts + Invalid.

    Invalid: fewer detected beats than ``min_hr`` implies for the segment,
    or more than 220 (reference: pipeline/SQA.py:193-196).

    The artifact sums ride get_missing's single ``_seg_samples`` scan
    (``with_artifacts=True``) instead of a second ``get_artifacts`` pass
    over the full sample frame; ``pct_artifact`` is recomputed from
    get_missing's ``n_detected``, which equals get_artifacts' per-segment
    beat count by construction (both count ``beat == 1`` rows).  Segments
    on the spine with no sample rows keep null ``n_artifact``/
    ``pct_artifact``, matching the former left join.
    """
    ss = _seg_samples(samples, fs, seg_size, with_ts, with_artifacts=True)
    missing = get_missing(
        samples, fs, seg_size, with_ts=with_ts, seg_samples=ss
    )
    out = missing.join(
        ss.selectExpr(B, "segment", "n_artifact"), [B, "segment"], "left")
    return _with(out, pct_artifact=_pct("n_artifact", "n_detected"),
                 invalid=_invalid(min_hr, seg_size))


def compute_metrics_rolling(
    samples: DataFrame,
    fs: float,
    rolling_window: int = 60,
    rolling_step: int = 15,
    seg_size: int = 60,
    min_hr: float = 40.0,
    with_ts: bool = True,
) -> DataFrame:
    """Sliding-window SQA metrics (reference: pipeline/SQA.py:114-175).

    Windows start every ``rolling_step`` seconds and span
    ``rolling_window`` seconds of samples; each beat lands in
    ``window/step`` windows via ``sequence``+``explode`` (bounded fan-out),
    then the same median/carry machinery as the segmented path runs per
    (subject, moving_window). Streaming-shaped: identical semantics to
    ``F.window(ts, window, step)`` group-bys.
    """
    step_len = int(fs * rolling_step)
    win_len = int(fs * rolling_window)
    beats = _beats_frame(samples, fs, seg_size).drop("segment")
    extents = _agg(samples, [B], [
        # grid length from the index (see _segment_spine)
        "max(sample_idx) + 1 AS n_samples",
        *(["min(ts) AS __ts0"] if with_ts else []),
    ])
    extents = _with(extents, n_win=f"ceil(n_samples / {step_len})")
    # referenced by both the fan-out join and the window spine, with
    # different column prunings — persist so the full sample frame is
    # scanned once for the per-subject extents (one row per subject).
    # Same lifecycle as _seg_samples: pinned via physioview_spark.cache
    # (release with pinned_frames()/release_pinned(), else GC) — see
    # the _seg_samples docstring.
    from physioview_spark import cache

    extents = cache.pin(extents)

    # windows containing sample i: s in [ceil((i-win_len+1)/step), floor(i/step)]
    lo = f"greatest(0, ceil((sample_idx - {win_len} + 1) / {step_len}))"
    hi = f"floor(sample_idx / {step_len})"
    exploded = _with(
        beats.join(extents.selectExpr(B, "n_win"), B),
        mw=f"explode(sequence({lo}, least({hi}, n_win - 1)))")

    w5 = _over(B, "mw", order="sample_idx",
               frame="ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING")
    # an IBI is only in-window if the previous beat is also in the window
    wprev = _over(B, "mw", order="sample_idx")
    # window medians AND raw counts in ONE aggregation over the exploded
    # frame (one shuffle on (subject, mw) instead of two + a join):
    # ``__valid`` masks invalid windows out of the median / window count
    # while every exploded row still feeds n_detected / n_artifact
    meds = _with(exploded, __rn=f"row_number() {wprev}")
    meds = _with(meds, ibi_in="CASE WHEN __rn > 1 THEN ibi_ms END")
    meds = _with(meds, __n=f"count(1) {w5}")
    meds = _with(meds, __any_art=f"max(artifact = 1) {w5}")
    meds = _with(meds, med_hr=_arr_median(
        f"collect_list({_sdiv(_d(60000.0), 'ibi_in')}) {w5}"))
    meds = _with(meds, __valid="__n = 5 AND NOT coalesce(__any_art, false)")
    win_meds = _agg(meds, [B, "mw"], [
        "median(CASE WHEN __valid THEN med_hr END) AS win_med",
        "count(CASE WHEN __valid THEN 1 END) AS n_win5",
        "count(1) AS n_detected",
        "sum(CASE WHEN artifact = 1 THEN 1 ELSE 0 END) AS n_artifact",
    ])
    spine = _with(extents, mw="explode(sequence(0, n_win - 1))").selectExpr(
        B, "mw", *(["__ts0"] if with_ts else []))

    m = _with(
        spine.join(win_meds, [B, "mw"], "left"),
        n_detected="coalesce(n_detected, 0)",
        n_artifact="coalesce(n_artifact, 0)",
        exp_hr_raw="CASE WHEN coalesce(n_win5, 0) > 0 THEN win_med END")
    m = _with(m, exp_hr="last(exp_hr_raw, true) "
                        + _over(B, order="mw", frame=RUNNING))
    m = _with(m, n_expected=(
        f"CAST(round(exp_hr * ({rolling_window} / 60.0D)) AS BIGINT)"))
    m = _with(m, n_missing="greatest(0, n_expected - n_detected)")
    m = _with(
        m,
        pct_missing=_pct("n_missing", "n_expected"),
        pct_artifact=(f"CASE WHEN n_detected > 0 THEN "
                      f"{_pct('n_artifact', 'n_detected')} END"),
        moving_window="mw + 1",
        invalid=_invalid(min_hr, seg_size))
    cols = [B, "moving_window", "n_expected", "n_detected", "n_missing",
            "pct_missing", "n_artifact", "pct_artifact", "invalid"]
    if with_ts:
        ts = _agg(samples, [B, f"floor(sample_idx / {step_len}) AS mw"],
                  ["min(ts) AS ts"])
        m = m.join(ts, [B, "mw"], "left")
        cols = [B, "moving_window", "ts"] + cols[2:]
    return m.selectExpr(*cols)


def get_seconds(samples: DataFrame, fs: float, with_ts: bool = True) -> DataFrame:
    """Per-second mean IBI / harmonic-mean HR / beat count (Graham 1978).

    The reference evaluates each second against a context window of the
    previous+current second (reference: pipeline/SQA.py:683-689); the
    harmonic mean of HRs reduces to ``60000 / mean(IBI)``. A beat's IBI
    belongs to a window only when its predecessor beat is inside too.

    One partially-aggregated pass over the sample frame feeds the second
    spine AND the per-second timestamps (persisted — the two downstream
    references prune different columns), and the per-second beat counts
    ride the context-window aggregation via a ``wsec == sec`` mask (every
    beat appears in the exploded frame exactly once at its own second), so
    the beats fan-out shuffles once.
    """
    fs_i = int(fs)
    lag = f"lag(sample_idx) {_over(B, order='sample_idx')}"
    beats = _with(
        samples.where("beat = 1").selectExpr(B, "sample_idx"),
        ibi_ms=f"(sample_idx - {lag}) / {_d(fs)} * 1000.0D",
        prev_idx=lag)
    beats = _with(beats, sec=f"floor(sample_idx / {fs_i})")
    sec_aggs = ["max(sample_idx) AS sec_max_idx"]
    if with_ts:
        sec_aggs.append("min(ts) AS ts")
    sec_samples = _agg(samples, [B, f"floor(sample_idx / {fs_i}) AS sec"],
                       sec_aggs)
    if with_ts:
        # Persist lifecycle: pinned via physioview_spark.cache (scope
        # or release_pinned, else GC) — see the _seg_samples docstring.
        from physioview_spark import cache

        sec_samples = cache.pin(sec_samples)
    # grid length from the index (see _segment_spine)
    spine = _agg(sec_samples, [B], ["max(sec_max_idx) + 1 AS n_samples"])
    spine = _with(spine, n_sec=f"ceil(n_samples / {fs_i})")
    spine = _with(spine, sec="explode(sequence(0, n_sec - 1))")
    spine = spine.selectExpr(B, "sec")
    # each beat serves windows {sec, sec+1}; window s spans seconds {s-1, s}
    exploded = _with(beats, wsec="explode(array(sec, sec + 1))")
    exploded = _with(
        exploded, win_start_idx=f"greatest(0, (wsec - 1) * {fs_i})")
    exploded = _with(
        exploded, ibi_in="CASE WHEN prev_idx >= win_start_idx THEN ibi_ms END")
    # A beat appears in the exploded frame exactly once at its OWN
    # second; materialize that mask before the groupBy — inside the
    # agg, "sec" would collide with the `wsec AS sec` grouping alias
    # and correctness would hinge on child-column resolution order.
    exploded = _with(exploded, own_sec="wsec = sec")
    window_stats = _agg(exploded, [B, "wsec AS sec"], [
        "avg(ibi_in) AS mean_ibi",
        "count(CASE WHEN own_sec THEN 1 END) AS n_beats",
    ])
    out = _with(
        spine.join(window_stats, [B, "sec"], "left"),
        n_beats="coalesce(n_beats, 0)",
        mean_hr=_sdiv(_d(60000.0), "mean_ibi"),
        second="sec + 1")
    cols = [B, "second", "mean_hr", "mean_ibi", "n_beats"]
    if with_ts:
        out = out.join(sec_samples.selectExpr(B, "sec", "ts"),
                       [B, "sec"], "left")
        cols = [B, "second", "ts", "mean_hr", "mean_ibi", "n_beats"]
    return out.selectExpr(*cols)


def cardiac_summary(metrics: DataFrame) -> DataFrame:
    """A9 parity: whole-recording rollup of the segmented SQA metric frame
    (reference: dashboard/utils.py:584-631) — per subject: segment count,
    mean detected beats, segments with any missing / any artifact /
    invalid, and mean percentages. One tiny hash aggregation."""
    return _agg(metrics, [B], [
        "count(1) AS n_segments",
        "round(avg(n_detected), 2) AS avg_n_detected",
        "sum(CASE WHEN n_missing > 0 THEN 1 ELSE 0 END) AS segs_with_missing",
        "sum(CASE WHEN n_artifact > 0 THEN 1 ELSE 0 END)"
        " AS segs_with_artifact",
        "sum(CASE WHEN invalid = 1 THEN 1 ELSE 0 END) AS segs_invalid",
        "round(avg(pct_missing), 2) AS avg_pct_missing",
        "round(avg(pct_artifact), 2) AS avg_pct_artifact",
    ])
