"""Event detection + per-event metrics (the reference's EP3).

The reference detects events per grid cell with a hand-rolled RLE kernel
(src/mhw3d/common/core.py:37-86) or `scipy.ndimage.label`
(tests/data/legacy/marineHeatWaves.py:319), then computes per-event
metrics over a time x event interval mask (common/core.py:110-123;
marineHeatWaves.py:350-411).

Spark-first design
------------------
Detection is classic gaps-and-islands sessionization — two window
passes and two hash aggregates, no fixed-width event matrix, no
iterative gap-merge loop:

1. W3  run-length encode the boolean exceedance series per cell:
       ``changed = flag != lag(flag)`` -> ``run_id = running sum``.
2. W4  min-duration filter: ``groupBy(cell, run_id) HAVING count >= d``.
3. W5  gap joining: a *second* sessionization over the surviving runs
       themselves: ``gap = start - lag(end) - 1``; runs chain into one
       event while ``gap <= maxGap``. The reference merges iteratively
       (first short gap, repeat: marineHeatWaves.py:330-345); a single
       cumulative-sum pass is equivalent because merging is
       chain-transitive (A-B merge never *increases* the B-C gap).
4. A5/W6/W7  metrics: expand each event to its member days
       (``explode(sequence(start, end))`` -> equi-join back to the
       series — cheaper at scale than a range join), one hash
       aggregate for every intensity/category/rate metric.

Shuffle budget for the whole flow: one window sort per cell (W3), one
agg (W4), one tiny window over runs (W5), one equi-join + agg (A5).
All operators are stock DataFrame ops -> Catalyst/AQE handle skew,
partial aggregation, and broadcast of the small events side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mhw3d_detection_spark.functions.scalar import CATEGORIES


def exceedance(
    ts_sev: DataFrame,
    *,
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
    fill_missing: bool = True,
) -> DataFrame:
    """Boolean exceedance series (reference: marineHeatWaves.py:303-317).

    Missing temps are replaced by the climatology (so data gaps
    terminate events) and a ``was_missing`` flag is kept; exceedance is
    strictly ``temp > thresh`` with NULL -> false.
    """
    temp = F.col(temp_col)
    if fill_missing:
        temp = F.coalesce(temp, F.col(seas_col))
    return ts_sev.withColumns(
        {
            "was_missing": F.col(temp_col).isNull(),
            temp_col: temp,
            "exceed": F.coalesce(temp > F.col(thresh_col), F.lit(False)),
        }
    )


def enrich_series(
    ts_sev: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
    flag_col: str = "exceed",
) -> DataFrame:
    """Fuse every per-cell sequential derivation the detection chain
    needs into ONE window pass (one exchange + one sort of the big
    table): anomaly projections, RLE run ids (W3), boundary neighbors
    for the rate formulas (W7), and the series extent.

    The full pipeline consumes this twice (event sessionization and
    event metrics); materializing it once replaces three separate
    exchange+sort subtrees — the dominant cost at scale.
    """
    w = Window.partitionBy(cell_col).orderBy(time_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(cell_col)

    flag = F.coalesce(F.col(flag_col), F.lit(False))
    lagged = F.lag(flag).over(w)
    changed = F.when(lagged.isNull() | (flag != lagged), 1).otherwise(0)
    rel_seas = F.col(temp_col) - F.col(seas_col)

    # single batched projection: one analysis pass, one Window node
    return ts_sev.withColumns(
        {
            "rel_seas": rel_seas,
            "rel_thresh": F.col(temp_col) - F.col(thresh_col),
            "rel_thresh_norm": (F.col(temp_col) - F.col(thresh_col))
            / (F.col(thresh_col) - F.col(seas_col)),
            "t_abs": F.col(temp_col),
            "prev_rel_seas": F.lag(rel_seas).over(w),
            "next_rel_seas": F.lead(rel_seas).over(w),
            "series_start": F.min(time_col).over(wall),
            "series_end": F.max(time_col).over(wall),
            "__flag": flag,
            "__run": F.sum(changed).over(wcum).cast("long"),
        }
    )


def rle_runs(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    flag_col: str = "exceed",
    min_duration: int = 1,
) -> DataFrame:
    """W3+W4: run-length encode a boolean series into
    ``runs(cell_id, run_id, run_start, run_end, run_days)``, keeping
    runs of at least ``min_duration`` rows.

    Gaps-and-islands: change-point flag vs the lagged value, cumulative
    sum as run id (reference RLE kernel common/core.py:53-69; Oliver
    uses scipy.ndimage.label, marineHeatWaves.py:319-327). ``run_id``
    numbers both true and false runs (only true runs survive), so ids
    are increasing but not consecutive — both engines derive them the
    same way.
    """
    w = Window.partitionBy(cell_col).orderBy(time_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)

    flag = F.coalesce(F.col(flag_col), F.lit(False))
    lagged = F.lag(flag).over(w)
    changed = F.when(lagged.isNull() | (flag != lagged), 1).otherwise(0)

    return (
        ts.withColumn("__flag", flag)
        .withColumn("run_id", F.sum(changed).over(wcum).cast("long"))
        .filter(F.col("__flag"))
        .groupBy(cell_col, "run_id")
        .agg(
            F.min(time_col).alias("run_start"),
            F.max(time_col).alias("run_end"),
            F.count(F.lit(1)).alias("run_days"),
        )
        .filter(F.col("run_days") >= min_duration)
    )


def detect_events(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    flag_col: str = "exceed",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    run_col: str | None = None,
) -> DataFrame:
    """Sessionize a boolean series into events(cell_id, event_id,
    date_start, date_end, duration).

    Implements W3 (RLE), W4 (min-duration HAVING) and W5 (gap joining)
    from SURVEY.md §2.6; semantics match marineHeatWaves.py:319-345 and
    common/core.py:53-74. ``duration`` counts every calendar day from
    start to end inclusive (joined gaps count: marineHeatWaves.py:371
    takes ``len(temp[tt_start:tt_end+1])``).

    ``run_col`` short-circuits the RLE window pass when the input is an
    :func:`enrich_series` output that already carries run ids.
    """
    if run_col is not None:
        runs = (
            ts.filter(F.col(flag_col))
            .groupBy(cell_col, F.col(run_col).alias("__run"))
            .agg(
                F.min(time_col).alias("run_start"),
                F.max(time_col).alias("run_end"),
                F.count(F.lit(1)).alias("run_days"),
            )
            .filter(F.col("run_days") >= min_duration)
        )
    else:
        runs = rle_runs(
            ts,
            cell_col=cell_col,
            time_col=time_col,
            flag_col=flag_col,
            min_duration=min_duration,
        ).withColumnRenamed("run_id", "__run")

    return _assemble_events(
        runs,
        cell_col=cell_col,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
    )


def _sqrt_var_pop(c: Column) -> Column:
    """np.var is ddof=0 -> var_pop; reference takes sqrt(var), i.e. the
    population standard deviation (marineHeatWaves.py:373)."""
    return F.sqrt(F.var_pop(c))


def _assemble_events(
    runs: DataFrame,
    *,
    cell_col: str = "cell_id",
    max_gap: int,
    join_across_gaps: bool,
    with_run_range: bool = False,
) -> DataFrame:
    """W5 gap joining + event assembly over a qualifying-runs table
    (cell, __run, run_start, run_end): chain runs while the gap is
    <= max_gap (one cumulative pass — equivalent to the reference's
    iterative first-gap merge by chain-transitivity,
    marineHeatWaves.py:330-345), then emit per-cell event ids ordered
    by date_start. Shared by :func:`detect_events` and
    :func:`fused_detect_metrics` so the gap semantics cannot drift
    between the component and fused paths. ``with_run_range``
    additionally carries each event's [__run_lo, __run_hi] member-run
    id range (the fused metric merge keys on it)."""
    if join_across_gaps:
        w2 = Window.partitionBy(cell_col).orderBy("run_start")
        gap = F.datediff("run_start", F.lag("run_end").over(w2)) - 1
        new_event = F.when(gap.isNull() | (gap > max_gap), 1).otherwise(0)
        grouped = runs.withColumn(
            "__evt",
            F.sum(new_event).over(w2.rowsBetween(Window.unboundedPreceding, 0)),
        )
    else:
        grouped = runs.withColumn("__evt", F.col("__run"))
    extra = (
        [F.min("__run").alias("__run_lo"), F.max("__run").alias("__run_hi")]
        if with_run_range
        else []
    )
    events = grouped.groupBy(cell_col, "__evt").agg(
        F.min("run_start").alias("date_start"),
        F.max("run_end").alias("date_end"),
        *extra,
    )
    return events.select(
        cell_col,
        F.row_number()
        .over(Window.partitionBy(cell_col).orderBy("date_start"))
        .alias("event_id"),
        "date_start",
        "date_end",
        (F.datediff("date_end", "date_start") + 1).alias("duration"),
        *(["__run_lo", "__run_hi"] if with_run_range else []),
    )


def _category_and_rates(
    out: DataFrame,
    *,
    with_categories: bool,
    with_rates: bool,
    band_col: str,
) -> DataFrame:
    """S6 category readout + W7 onset/decline rate formulas
    (marineHeatWaves.py:385-411: half-day boundary convention, 4 edge
    cases at the series extremes) — the shared tail of
    :func:`event_metrics` and :func:`fused_detect_metrics`. Expects
    ``__tt_peak``, ``intensity_max``, ``duration``, the peak-band
    column named by ``band_col`` (when with_categories) and the
    ``__first/__last/__before/__after_rel_seas`` +
    ``__starts/__ends_at_series_*`` boundary columns (when
    with_rates)."""
    if with_categories:
        out = out.withColumn(
            "category",
            F.element_at(
                F.array(*[F.lit(c) for c in CATEGORIES]),
                F.least(F.col(band_col), F.lit(4)).cast("int"),
            ),
        ).drop(band_col)
    if with_rates:
        tt_peak = F.col("__tt_peak").cast("double")
        imax = F.col("intensity_max")
        dur = F.col("duration").cast("double")
        onset = (
            F.when(
                ~F.col("__starts_at_series_start"),
                (imax - 0.5 * (F.col("__first_rel_seas") + F.col("__before_rel_seas")))
                / (tt_peak + 0.5),
            )
            .when(F.col("__tt_peak") == 0, F.lit(0.0))  # peak==first -> 0
            .otherwise((imax - F.col("__first_rel_seas")) / tt_peak)
        )
        decline_days = dur - 1 - tt_peak
        decline = (
            F.when(
                ~F.col("__ends_at_series_end"),
                (imax - 0.5 * (F.col("__last_rel_seas") + F.col("__after_rel_seas")))
                / (decline_days + 0.5),
            )
            .when(F.col("__tt_peak") == F.col("duration") - 1, F.lit(0.0))
            .otherwise((imax - F.col("__last_rel_seas")) / decline_days)
        )
        out = out.withColumns({"rate_onset": onset, "rate_decline": decline}).drop(
            "__first_rel_seas",
            "__last_rel_seas",
            "__before_rel_seas",
            "__after_rel_seas",
            "__starts_at_series_start",
            "__ends_at_series_end",
        )
    return out.drop("__tt_peak")


def fused_detect_metrics(
    enriched: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    with_rates: bool = True,
    with_categories: bool = True,
    materialize_runs: bool = True,
) -> DataFrame:
    """Detection + per-event metrics in ONE pass over the series: the
    production tail of :func:`~mhw3d_detection_spark.plans.detect_mhw`.

    The separate ``detect_events`` + ``event_metrics`` composition
    consumes the enriched series twice (sessionization, then an
    event-days join back) and therefore materializes the full big-table
    window output. Here the big table is touched exactly once: a
    per-(cell, run) aggregate computes *mergeable partials* for every
    metric — sums / counts / sums-of-squares for the mean/var family,
    argmax structs (value, earliest-day tie-break) for the peaks,
    category-band day counts, boundary values for the rate formulas —
    and everything downstream (min-duration filter, gap joining, the
    metric merge) happens on the tiny runs table.

    Gap-day semantics are preserved exactly: runs partition the
    per-cell timeline, and a joined event [date_start, date_end] spans
    whole runs only (its boundaries are qualifying-run boundaries), so
    the event's member days — INCLUDING the sub-``max_gap`` non-exceed
    days the reference also aggregates over
    (marineHeatWaves.py:350-411 slices tt_start:tt_end+1) — are exactly
    the runs with ``run_lo <= run_id <= run_hi``. False runs before the
    first / after the last qualifying run fall outside that range.

    Variance uses the closed form sqrt(E[x^2] - E[x]^2) over merged
    partials (population, like np.var ddof=0) — computed on values
    CENTERED by a per-cell constant (the cell's first value of each
    metric) so the squares are of anomaly-sized deviations, not of
    |x| ~ 1e5 absolutes: without the shift, q/n - (s/n)^2 loses ~6
    significant digits at the repo's own TPC-H-derived temp magnitudes
    (catastrophic cancellation). Shifting by a constant leaves the
    variance unchanged, and mean/cumulative are recovered by adding
    the center back. Clamped at 0 against residual rounding.

    Scale shape: hashpartitioning(cell) from the enrich window
    satisfies the (cell, run) aggregate, so the partial agg adds NO
    exchange; the runs table is O(flag transitions) per cell — orders
    of magnitude smaller than the series — and every later step
    (window over runs, broadcast range join, final merge) operates on
    it alone. Replaces: a full-series persist + a second series pass +
    the event-days explode-join.

    ``materialize_runs`` persists the runs table, which event assembly
    and the metric merge both read: at scale it keeps the enrich window
    and the partial aggregate from running twice. With
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` (set
    by :data:`~mhw3d_detection_spark.session.RUNTIME_CONFS`) AQE
    coalesces the cached shuffle like any other, so the persisted path
    is also the fast one; ``False`` only skips the cache.
    """
    p = _run_partials(
        enriched,
        cell_col=cell_col,
        time_col=time_col,
        with_rates=with_rates,
        with_categories=with_categories,
    )
    if materialize_runs:
        p = p.persist()  # tiny: O(flag transitions), consumed twice
    return _metrics_from_partials(
        p,
        cell_col=cell_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
        with_rates=with_rates,
        with_categories=with_categories,
    )


def _run_partials(
    enriched: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    with_rates: bool = True,
    with_categories: bool = True,
) -> DataFrame:
    """The per-(cell, run) mergeable-partial aggregate behind
    :func:`fused_detect_metrics` — ONE pass over the enriched series
    producing, per run, everything any per-event metric needs:
    centered moment sums, argmax peak structs, category-day counters,
    and (with_rates) run-boundary values + series extents. The output
    rows are associative state: same-flag time-adjacent runs merge by
    summing/maxing partials (see :func:`merge_detect_partials`)."""
    day = F.to_date(time_col)
    tb = -F.unix_date(day)  # earliest-day tie-break under max()
    # per-cell centering constants for the moment partials: first
    # non-null value of each metric, over the same (cell, time) ordered
    # frame the enrich window already sorts — one shared sort, full
    # frame, deterministic
    wc = (
        Window.partitionBy(cell_col)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    enriched = enriched.withColumns(
        {
            "__c_rs": F.first("rel_seas", ignorenulls=True).over(wc),
            "__c_rt": F.first("rel_thresh", ignorenulls=True).over(wc),
            "__c_ab": F.first("t_abs", ignorenulls=True).over(wc),
        }
    )
    rs = F.col("rel_seas")
    rt = F.col("rel_thresh")
    rtn = F.col("rel_thresh_norm")
    ab = F.col("t_abs")
    crs = F.col("__c_rs")
    crt = F.col("__c_rt")
    cab = F.col("__c_ab")
    cat_band = F.floor(F.lit(1.0) + rtn)

    aggs = [
        F.first("__flag").alias("flag"),
        F.min(time_col).alias("run_start"),
        F.max(time_col).alias("run_end"),
        F.count(F.lit(1)).alias("run_days"),
        # centered mean/var/cumulative partials (nulls skipped, like
        # avg/var_pop); the center constants ride along per run
        F.count(rs).alias("n_rs"),
        F.sum(rs - crs).alias("s_rs"),
        F.sum((rs - crs) * (rs - crs)).alias("q_rs"),
        F.first("__c_rs").alias("c_rs"),
        F.count(rt).alias("n_rt"),
        F.sum(rt - crt).alias("s_rt"),
        F.sum((rt - crt) * (rt - crt)).alias("q_rt"),
        F.first("__c_rt").alias("c_rt"),
        F.count(ab).alias("n_ab"),
        F.sum(ab - cab).alias("s_ab"),
        F.sum((ab - cab) * (ab - cab)).alias("q_ab"),
        F.first("__c_ab").alias("c_ab"),
        # W6 peak partials: ordering key + payload at the key's argmax
        F.max(F.struct(rs.alias("v"), tb.alias("tb"))).alias("pk_key"),
        F.max_by(
            F.struct(
                day.alias("date_peak"), rt.alias("rt"), ab.alias("ab")
            ),
            F.struct(rs.alias("v"), tb.alias("tb")),
        ).alias("pk_val"),
    ]
    if with_categories:
        aggs += [
            F.max(F.struct(rtn.alias("v"), tb.alias("tb"))).alias("pkc_key"),
            F.max_by(cat_band, F.struct(rtn.alias("v"), tb.alias("tb"))).alias(
                "pkc_val"
            ),
            F.sum((cat_band == 1).cast("long")).alias("d_mod"),
            F.sum((cat_band == 2).cast("long")).alias("d_str"),
            F.sum((cat_band == 3).cast("long")).alias("d_sev"),
            F.sum((cat_band >= 4).cast("long")).alias("d_ext"),
        ]
    if with_rates:
        aggs += [
            F.min_by(rs, F.col(time_col)).alias("first_rs"),
            F.max_by(rs, F.col(time_col)).alias("last_rs"),
            F.min_by("prev_rel_seas", F.col(time_col)).alias("before_rs"),
            F.max_by("next_rel_seas", F.col(time_col)).alias("after_rs"),
            F.first("series_start").alias("series_start"),
            F.first("series_end").alias("series_end"),
        ]
    return enriched.groupBy(
        F.col(cell_col).alias("cell_id"), F.col("__run").alias("__run")
    ).agg(*aggs)


def _metrics_from_partials(
    p: DataFrame,
    *,
    cell_col: str = "cell_id",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    with_rates: bool = True,
    with_categories: bool = True,
) -> DataFrame:
    """Event assembly + metric merge over a run-partials table
    (:func:`_run_partials` output, normalized to a ``cell_id`` column):
    W4 min-duration filter, W5 gap joining, the [run_lo, run_hi]
    member-run merge, and the category/rate tail."""
    # W4 + W5 on qualifying true runs — shared event assembly with
    # detect_events, plus each event's member-run id range
    runs_q = p.filter(F.col("flag") & (F.col("run_days") >= min_duration))
    events = _assemble_events(
        runs_q,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
        with_run_range=True,
    )

    # member runs: equi on cell + integer run-id range; both sides tiny,
    # events broadcast (the range predicate rides on the hash join)
    ev = events.withColumnRenamed("cell_id", "__ev_cell")
    j = p.join(
        F.broadcast(ev),
        (p["cell_id"] == ev["__ev_cell"])
        & (p["__run"] >= ev["__run_lo"])
        & (p["__run"] <= ev["__run_hi"]),
    ).drop("__ev_cell", "__run_lo", "__run_hi")

    def merged_std(n, s, q2):
        n, s, q2 = F.sum(n), F.sum(s), F.sum(q2)
        nd = n.cast("double")
        return F.when(
            n > 0,
            F.sqrt(F.greatest(q2 / nd - (s / nd) * (s / nd), F.lit(0.0))),
        )

    def mean_of(n, s, c):
        # centered partials: mean = center + sum(x - c) / count
        return F.first(c) + F.sum(s) / F.sum(n)

    def cum_of(n, s, c):
        # sum(x) = sum(x - c) + c * count; all-null events stay NULL
        # (sum of no non-null partials is NULL, + c*0 propagates it)
        return F.sum(s) + F.first(c) * F.sum(n)

    m_aggs = [
        F.max("pk_key").alias("__pk_key"),
        F.max_by("pk_val", "pk_key").alias("__pk_val"),
        mean_of("n_rs", "s_rs", "c_rs").alias("intensity_mean"),
        merged_std("n_rs", "s_rs", "q_rs").alias("intensity_var"),
        cum_of("n_rs", "s_rs", "c_rs").alias("intensity_cumulative"),
        mean_of("n_rt", "s_rt", "c_rt").alias("intensity_mean_relThresh"),
        merged_std("n_rt", "s_rt", "q_rt").alias("intensity_var_relThresh"),
        cum_of("n_rt", "s_rt", "c_rt").alias("intensity_cumulative_relThresh"),
        mean_of("n_ab", "s_ab", "c_ab").alias("intensity_mean_abs"),
        merged_std("n_ab", "s_ab", "q_ab").alias("intensity_var_abs"),
        cum_of("n_ab", "s_ab", "c_ab").alias("intensity_cumulative_abs"),
    ]
    if with_categories:
        m_aggs += [
            F.max_by("pkc_val", "pkc_key").alias("__pkc_val"),
            F.sum("d_mod").alias("duration_moderate"),
            F.sum("d_str").alias("duration_strong"),
            F.sum("d_sev").alias("duration_severe"),
            F.sum("d_ext").alias("duration_extreme"),
        ]
    if with_rates:
        m_aggs += [
            F.min_by("first_rs", "run_start").alias("__first_rel_seas"),
            F.max_by("last_rs", "run_end").alias("__last_rel_seas"),
            F.min_by("before_rs", "run_start").alias("__before_rel_seas"),
            F.max_by("after_rs", "run_end").alias("__after_rel_seas"),
            F.min_by(
                F.col("run_start") == F.col("series_start"), "run_start"
            ).alias("__starts_at_series_start"),
            F.max_by(
                F.col("run_end") == F.col("series_end"), "run_end"
            ).alias("__ends_at_series_end"),
        ]

    g = j.groupBy("cell_id", "event_id", "date_start", "date_end", "duration").agg(
        *m_aggs
    )

    out = g.select(
        "*",
        F.col("__pk_key.v").alias("intensity_max"),
        F.col("__pk_val.date_peak").alias("date_peak"),
        F.col("__pk_val.rt").alias("intensity_max_relThresh"),
        F.col("__pk_val.ab").alias("intensity_max_abs"),
        F.datediff(F.col("__pk_val.date_peak"), F.to_date("date_start")).alias(
            "__tt_peak"
        ),
    ).drop("__pk_key", "__pk_val")

    out = _category_and_rates(
        out,
        with_categories=with_categories,
        with_rates=with_rates,
        band_col="__pkc_val",
    )
    return out.drop("__run_lo", "__run_hi").withColumnRenamed(
        "cell_id", cell_col
    )


def detect_partials(
    ts_sev: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
    with_rates: bool = True,
    with_categories: bool = True,
) -> DataFrame:
    """Incremental detection, map side: compress ONE time-batch of a
    severity-joined series (cell, time, temp, seas, thresh) into
    mergeable run partials — the detection analogue of
    ``clim_partials`` for chunked / backfill processing (the
    reference's chunk-at-a-time dask model, reprocessed relationally).

    Each output row is one exceedance run of the batch carrying
    associative state: centered moment sums, argmax peak structs,
    category-day counters, boundary values. Feed the union of all
    batches' partials to :func:`merge_detect_partials`; the result
    equals the whole-series :func:`fused_detect_metrics` output up to
    floating-point reassociation in the re-centered moments (~1e-12
    relative; all other columns exactly), events spanning batch
    boundaries included — a run cut by the boundary is re-joined at
    merge, since the whole-series RLE would never have split it.
    Batches must partition the time axis per cell; they may arrive in
    any order.

    At 100 TB this is the shape that avoids ever holding the full
    series in one job: per-batch partials are a tiny table per chunk,
    and the merge is runs-sized."""
    flagged = exceedance(
        ts_sev, temp_col=temp_col, seas_col=seas_col, thresh_col=thresh_col
    )
    enriched = enrich_series(
        flagged,
        cell_col=cell_col,
        time_col=time_col,
        temp_col=temp_col,
        seas_col=seas_col,
        thresh_col=thresh_col,
        flag_col="exceed",
    )
    return _run_partials(
        enriched,
        cell_col=cell_col,
        time_col=time_col,
        with_rates=with_rates,
        with_categories=with_categories,
    )


def merge_detect_partials(
    partials: DataFrame,
    *,
    cell_col: str = "cell_id",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    with_rates: bool = True,
    with_categories: bool = True,
    materialize_runs: bool = True,
) -> DataFrame:
    """Incremental detection, reduce side: union of per-batch
    :func:`detect_partials` rows -> the whole-series event metrics.

    Three runs-sized steps (the series itself never reappears):

    1. Coalesce runs across batch boundaries: order each cell's runs by
       run_start and merge consecutive SAME-FLAG runs (the whole-series
       RLE is row-based, so a flag run cut by a batch boundary — even
       across a calendar gap in the data — is one run). Moments are
       re-centered to the cell's earliest batch center first
       (shift identity: sum((x-C)) = s + n*(c_i - C),
       sum((x-C)^2) = q + 2*(c_i - C)*s + n*(c_i - C)^2).
    2. Recompute the cross-run boundary state the batches could not
       see: before/after = the neighboring run's edge value (a run's
       previous row IS the previous run's last row), series extents =
       min/max over the cell's runs.
    3. Renumber runs (alternating flags -> consecutive ids) and run the
       standard event assembly + metric merge
       (:func:`_metrics_from_partials`).

    ``materialize_runs`` persists the coalesced runs table, read twice
    by step 3 — see :func:`fused_detect_metrics`.
    """
    w = Window.partitionBy("cell_id").orderBy("run_start")
    wall = Window.partitionBy("cell_id")

    # canonical per-cell centers: the earliest run WITH a non-null
    # center (min_by skips rows whose ordering key is NULL). A batch
    # whose slice has no non-null value for a metric (e.g. seas NULL
    # throughout, so rel_seas is NULL) carries c_* = NULL; taking the
    # plain earliest run's center would then NULL the re-centering
    # delta for EVERY batch and wipe the moment sums — the
    # whole-series fused path centers on the first non-null value, and
    # batches partition the time axis, so the earliest non-null batch
    # center IS that value.
    def first_center(c: str) -> Column:
        return F.min_by(
            c, F.when(F.col(c).isNotNull(), F.col("run_start"))
        ).over(wall)

    cent = partials.withColumns(
        {
            "__C_rs": first_center("c_rs"),
            "__C_rt": first_center("c_rt"),
            "__C_ab": first_center("c_ab"),
        }
    )

    def recenter(s, q, n, c, C):
        d = F.col(c) - F.col(C)
        s2 = (F.col(s) + F.col(n) * d).alias(s)
        q2 = (
            F.col(q) + 2 * d * F.col(s) + F.col(n) * d * d
        ).alias(q)
        return s2, q2

    s_rs, q_rs = recenter("s_rs", "q_rs", "n_rs", "c_rs", "__C_rs")
    s_rt, q_rt = recenter("s_rt", "q_rt", "n_rt", "c_rt", "__C_rt")
    s_ab, q_ab = recenter("s_ab", "q_ab", "n_ab", "c_ab", "__C_ab")
    keep = [
        c
        for c in partials.columns
        if c
        not in {
            "__run",
            "s_rs", "q_rs", "c_rs",
            "s_rt", "q_rt", "c_rt",
            "s_ab", "q_ab", "c_ab",
            # batch-local boundary state — recomputed below
            "before_rs", "after_rs", "series_start", "series_end",
        }
    ]
    cent = cent.select(
        *keep,
        s_rs, q_rs, F.col("__C_rs").alias("c_rs"),
        s_rt, q_rt, F.col("__C_rt").alias("c_rt"),
        s_ab, q_ab, F.col("__C_ab").alias("c_ab"),
    )

    # 1. coalesce same-flag consecutive runs (gaps-and-islands over the
    # runs themselves)
    changed = F.when(
        F.lag("flag").over(w).isNull() | (F.col("flag") != F.lag("flag").over(w)),
        1,
    ).otherwise(0)
    g = cent.withColumn(
        "__g", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merge_aggs = [
        F.first("flag").alias("flag"),
        F.min("run_start").alias("run_start"),
        F.max("run_end").alias("run_end"),
        F.sum("run_days").alias("run_days"),
        F.sum("n_rs").alias("n_rs"), F.sum("s_rs").alias("s_rs"),
        F.sum("q_rs").alias("q_rs"), F.first("c_rs").alias("c_rs"),
        F.sum("n_rt").alias("n_rt"), F.sum("s_rt").alias("s_rt"),
        F.sum("q_rt").alias("q_rt"), F.first("c_rt").alias("c_rt"),
        F.sum("n_ab").alias("n_ab"), F.sum("s_ab").alias("s_ab"),
        F.sum("q_ab").alias("q_ab"), F.first("c_ab").alias("c_ab"),
        F.max("pk_key").alias("pk_key"),
        F.max_by("pk_val", "pk_key").alias("pk_val"),
    ]
    if with_categories:
        merge_aggs += [
            F.max("pkc_key").alias("pkc_key"),
            F.max_by("pkc_val", "pkc_key").alias("pkc_val"),
            F.sum("d_mod").alias("d_mod"), F.sum("d_str").alias("d_str"),
            F.sum("d_sev").alias("d_sev"), F.sum("d_ext").alias("d_ext"),
        ]
    if with_rates:
        merge_aggs += [
            F.min_by("first_rs", "run_start").alias("first_rs"),
            F.max_by("last_rs", "run_end").alias("last_rs"),
        ]
    runs = g.groupBy("cell_id", "__g").agg(*merge_aggs)

    # 2. cross-run boundary state + 3. contiguous ids in time order
    cols = {
        "__run": F.row_number().over(w).cast("long"),
    }
    if with_rates:
        cols.update(
            {
                "before_rs": F.lag("last_rs").over(w),
                "after_rs": F.lead("first_rs").over(w),
                "series_start": F.min("run_start").over(wall),
                "series_end": F.max("run_end").over(wall),
            }
        )
    runs = runs.withColumns(cols).drop("__g")
    if materialize_runs:
        runs = runs.persist()

    return _metrics_from_partials(
        runs,
        cell_col=cell_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
        with_rates=with_rates,
        with_categories=with_categories,
    )


def event_metrics(
    ts_sev: DataFrame,
    events: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
    with_rates: bool = True,
    with_categories: bool = True,
    broadcast_events: bool = True,
    enriched: bool = False,
) -> DataFrame:
    """Per-event intensity / category / rate metrics
    (A5 + W6 + W7 + W8 + S6 of SURVEY.md §2; semantics:
    marineHeatWaves.py:350-411, common/core.py:89-127).

    ``ts_sev`` must carry temp (already gap-filled with seas if that
    mode is on), seas and thresh per (cell, day). Member days are
    generated with ``explode(sequence(date_start, date_end))`` and
    equi-joined back — at 100 TB this shuffles only (event-days) rows
    on the same (cell, time) key as the series, and the events side is
    AQE-broadcastable.

    Peak = argmax of (temp - seas) with *earliest-day* tie-break
    (np.argmax first-occurrence, marineHeatWaves.py:366); the category
    peak is separately argmax of the normalized exceedance
    (marineHeatWaves.py:385-388).
    """
    # Per-day series values needed at event boundaries (W7): the
    # neighbors just outside the event and the series extent per cell.
    # With enriched=True these come precomputed from enrich_series —
    # no extra exchange+sort of the big table.
    cols = [
        "rel_seas",
        "rel_thresh",
        "rel_thresh_norm",
        "t_abs",
        "prev_rel_seas",
        "next_rel_seas",
        "series_start",
        "series_end",
    ]
    if enriched:
        d = ts_sev.select(
            F.col(cell_col).alias("cell_id"),
            F.col(time_col).alias("time"),
            *cols,
        )
    else:
        w = Window.partitionBy(cell_col).orderBy(time_col)
        wall = Window.partitionBy(cell_col)
        anom = F.col(temp_col) - F.col(seas_col)
        d = ts_sev.select(
            F.col(cell_col).alias("cell_id"),
            F.col(time_col).alias("time"),
            anom.alias("rel_seas"),
            (F.col(temp_col) - F.col(thresh_col)).alias("rel_thresh"),
            ((F.col(temp_col) - F.col(thresh_col)) / (F.col(thresh_col) - F.col(seas_col))).alias(
                "rel_thresh_norm"
            ),
            F.col(temp_col).alias("t_abs"),
        )
        d = d.withColumns(
            {
                "prev_rel_seas": F.lag("rel_seas").over(w),
                "next_rel_seas": F.lead("rel_seas").over(w),
                "series_start": F.min("time").over(wall),
                "series_end": F.max("time").over(wall),
            }
        )

    member = events.select(
        F.col(cell_col).alias("cell_id"),
        "event_id",
        "date_start",
        "date_end",
        "duration",
        F.explode(
            F.sequence(F.to_date("date_start"), F.to_date("date_end"))
        ).alias("__day"),
    )
    # The series time axis may be DATE or day-resolution TIMESTAMP; join
    # on the date value. The member-days side is events x duration —
    # orders of magnitude smaller than the series — so broadcast it
    # explicitly rather than letting a full-series shuffle join sneak in
    # (AQE only broadcasts when stats are known pre-shuffle). Disable
    # broadcast_events when total event-days outgrow executor memory;
    # the join then shuffles on the same (cell, day) key as the series.
    if broadcast_events:
        member = F.broadcast(member)
    j = d.withColumn("__day", F.to_date("time")).join(
        member,
        ["cell_id", "__day"],
        "inner",
    )

    offset = F.datediff("__day", "date_start")  # 0-based index within event
    is_first = F.col("__day") == F.to_date("date_start")
    is_last = F.col("__day") == F.to_date("date_end")
    cat_band = F.floor(F.lit(1.0) + F.col("rel_thresh_norm"))

    def first_of(cond: Column, val: Column) -> Column:
        return F.max(F.when(cond, val))

    aggs = [
        # W6 peak: earliest max of rel_seas
        F.max_by(
            F.struct(F.col("__day").alias("date_peak"), offset.alias("peak_offset")),
            F.struct(F.col("rel_seas").alias("v"), (-offset).alias("tb")),
        ).alias("__peak"),
        F.max("rel_seas").alias("intensity_max"),
        F.avg("rel_seas").alias("intensity_mean"),
        _sqrt_var_pop(F.col("rel_seas")).alias("intensity_var"),
        F.sum("rel_seas").alias("intensity_cumulative"),
        F.avg("rel_thresh").alias("intensity_mean_relThresh"),
        _sqrt_var_pop(F.col("rel_thresh")).alias("intensity_var_relThresh"),
        F.sum("rel_thresh").alias("intensity_cumulative_relThresh"),
        F.avg("t_abs").alias("intensity_mean_abs"),
        _sqrt_var_pop(F.col("t_abs")).alias("intensity_var_abs"),
        F.sum("t_abs").alias("intensity_cumulative_abs"),
        # values *at* the rel_seas peak (earliest tie-break)
        F.max_by(
            F.struct(
                F.col("rel_thresh").alias("rt"), F.col("t_abs").alias("ab")
            ),
            F.struct(F.col("rel_seas").alias("v"), (-offset).alias("tb")),
        ).alias("__at_peak"),
    ]
    if with_categories:
        aggs += [
            # S6: category at the *normalized* peak (separate argmax)
            F.max_by(cat_band, F.struct(F.col("rel_thresh_norm"), -offset)).alias(
                "__peak_cat_band"
            ),
            F.sum((cat_band == 1).cast("long")).alias("duration_moderate"),
            F.sum((cat_band == 2).cast("long")).alias("duration_strong"),
            F.sum((cat_band == 3).cast("long")).alias("duration_severe"),
            F.sum((cat_band >= 4).cast("long")).alias("duration_extreme"),
        ]
    if with_rates:
        aggs += [
            first_of(is_first, F.col("rel_seas")).alias("__first_rel_seas"),
            first_of(is_last, F.col("rel_seas")).alias("__last_rel_seas"),
            first_of(is_first, F.col("prev_rel_seas")).alias("__before_rel_seas"),
            first_of(is_last, F.col("next_rel_seas")).alias("__after_rel_seas"),
            first_of(is_first, F.col("__day") == F.to_date("series_start")).alias(
                "__starts_at_series_start"
            ),
            first_of(is_last, F.col("__day") == F.to_date("series_end")).alias(
                "__ends_at_series_end"
            ),
        ]

    g = j.groupBy("cell_id", "event_id", "date_start", "date_end", "duration").agg(*aggs)

    out = g.select(
        "*",
        F.col("__peak.date_peak").alias("date_peak"),
        F.col("__peak.peak_offset").alias("__tt_peak"),
        F.col("__at_peak.rt").alias("intensity_max_relThresh"),
        F.col("__at_peak.ab").alias("intensity_max_abs"),
    ).drop("__peak", "__at_peak")

    out = _category_and_rates(
        out,
        with_categories=with_categories,
        with_rates=with_rates,
        band_col="__peak_cat_band",
    )
    return out.withColumnRenamed("cell_id", cell_col)
