"""End-to-end pipeline compositions (the reference's public API surface).

The canonical flow (reference README.md:53-64, design doc steps 1-3):

    compute_climatology + compute_threshold   ->  clim(cell, doy, seas, thresh)
    calculate_severity                        ->  ts + (t_anom, severity)
    detect + calculate_mhw_metrics            ->  events table

Physical plan at scale (SURVEY.md §4): scan(pruned) -> shuffle on
(cell, doy) for the clim agg -> broadcast-join clim back -> window
sort per cell for sessionization -> event agg. Three shuffles of the
big table total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.climatology import pooled_climatology
from mhw3d_detection_spark.operators.detection import (
    enrich_series,
    exceedance,
    fused_detect_metrics,
)
from mhw3d_detection_spark.operators.severity import calculate_severity


def detect_mhw(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    baseline: tuple[int, int] | None = None,
    pctile: float = 90.0,
    window_half_width: int = 5,
    smooth_width: int | None = 31,
    smooth_mode: str = "full",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    cold_spells: bool = False,
    clim_ts: DataFrame | None = None,
    with_rates: bool = True,
    with_categories: bool = True,
    materialize_series: bool = True,
    materialize_input: bool = False,
    pool_mode: str = "series",
) -> DataFrame:
    """Full MHW detection: long-format series -> per-event metrics table.

    Parameters mirror the vendored oracle's `detect`
    (tests/data/legacy/marineHeatWaves.py:17 defaults: minDuration=5,
    maxGap=2, pctile=90, windowHalfWidth=5, smoothWidth=31).

    cold_spells=True detects cold events: negate input, detect with the
    mirrored percentile, negate intensities on the way out
    (marineHeatWaves.py:105-106,244-247,413-426).
    clim_ts, if given, supplies an *alternate* series to build the
    climatology from (marineHeatWaves.py:107-113) — free in relational
    form: clim built from table B, joined to table A.
    materialize_series persists the detection tail's runs table
    (``materialize_runs`` of
    :func:`~mhw3d_detection_spark.operators.detection.fused_detect_metrics`);
    with the session's runtime confs it is the faster setting, not a
    trade of speed for memory.
    """
    sign = -1.0 if cold_spells else 1.0

    def signed(df: DataFrame) -> DataFrame:
        return df.withColumn(temp_col, sign * F.col(temp_col)) if cold_spells else df

    # Dense-array clim path for BOTH smoothing modes: the whole clim
    # tail (densify + Feb-29 + circular smooth — full's dense-366 axis
    # or valid's compressed M3/Ly sequence) collapses into per-cell
    # array transforms and the severity broadcast shrinks to one row
    # per cell — no densify join, no Feb-29 join, no smooth window
    # exchange (operators/climatology.py clim_arrays).
    clim_output = "arrays"
    ts_s = signed(ts)
    if materialize_input:
        # The cleaned daily series feeds two independent subtrees (the
        # clim aggregate and the severity join); when it is itself a
        # derived aggregate (e.g. raw samples -> daily means), persist
        # it so the upstream shuffle runs once. Off by default: at
        # 100 TB the caller decides whether the series fits the cache.
        ts_s = ts_s.persist()
    clim_src = signed(clim_ts) if clim_ts is not None else ts_s
    clim = pooled_climatology(
        clim_src,
        cell_col=cell_col,
        time_col=time_col,
        temp_col=temp_col,
        baseline=baseline,
        pctile=pctile,
        window_half_width=window_half_width,
        smooth_width=smooth_width,
        smooth_mode=smooth_mode,
        pool_mode=pool_mode,
        output=clim_output,
    )
    sev = calculate_severity(
        ts_s, clim, cell_col=cell_col, time_col=time_col, temp_col=temp_col
    )
    flagged = exceedance(sev, temp_col=temp_col)
    # One fused window pass derives run ids + boundary neighbors +
    # series extent (one exchange + one sort of the big table), and
    # fused_detect_metrics consumes it in a SINGLE per-(cell, run)
    # partial aggregate — the big table is never materialized and never
    # read twice; sessionization, gap joining and the metric merge all
    # run on the tiny runs table (operators/detection.py
    # fused_detect_metrics). materialize_series now governs the runs
    # table persist (two consumers: event assembly + metric merge).
    enriched = enrich_series(
        flagged, cell_col=cell_col, time_col=time_col, temp_col=temp_col
    )
    metrics = fused_detect_metrics(
        enriched,
        cell_col=cell_col,
        time_col=time_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
        with_rates=with_rates,
        with_categories=with_categories,
        materialize_runs=materialize_series,
    )
    if cold_spells:
        # Negate every intensity metric; durations/dates/rates keep sign
        # conventions of the reference (rates are computed on the negated
        # series and reported as-is, marineHeatWaves.py:413-426 touches
        # only the 9 intensity columns).
        metrics = metrics.withColumns(
            {
                c: -F.col(c)
                for c in metrics.columns
                if c.startswith("intensity_") and "_var" not in c
            }
        )
    return metrics
