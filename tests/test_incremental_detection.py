"""Differential: incremental detection (per-batch run partials +
merge) must equal the whole-series fused path exactly — including
events whose runs are cut by a batch boundary, calendar gaps in the
data at a boundary (the whole-series row-based RLE joins across them),
NULL-temp days, and the re-centering of moment partials across
batches with different centering constants.
"""

import datetime as dt
import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.detection import (
    detect_partials,
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
)

DAY0 = dt.date(2021, 1, 1)

temp_strategy = st.one_of(
    st.none(),
    st.integers(16, 40).map(lambda k: 2.0e5 + k / 2.0),  # quantized, big base
)


# True is the production default (both paths persist their runs
# table); False plans the same steps without the cache
@pytest.mark.parametrize(
    "materialize_runs", [True, False], ids=["persisted", "unpersisted"]
)
@settings(max_examples=8, deadline=None)
@given(
    temps=st.lists(temp_strategy, min_size=8, max_size=60),
    cut_fracs=st.lists(
        st.floats(0.1, 0.9), min_size=1, max_size=3, unique=True
    ),
    drop_idx=st.integers(0, 59),
    min_duration=st.integers(1, 3),
    max_gap=st.integers(0, 2),
    null_seas_days=st.integers(0, 20),
    shuffle_seed=st.integers(0, 10_000),
)
def test_merged_partials_equal_whole_series(
    spark,
    materialize_runs,
    temps,
    cut_fracs,
    drop_idx,
    min_duration,
    max_gap,
    null_seas_days,
    shuffle_seed,
):
    # a NULL-seas prefix (first `null_seas_days` days) exercises the
    # canonical-center selection: the earliest batch may have NO
    # non-null rel_seas, so the merge must center on the first non-null
    # batch instead (the whole-series path's first-non-null rule)
    rows = [
        (
            0,
            DAY0 + dt.timedelta(days=i),
            t,
            None if i < null_seas_days else 2.0e5 + 10.0,
            2.0e5 + 12.0,
        )
        for i, t in enumerate(temps)
        if i != drop_idx % len(temps)  # a calendar hole in the data
    ]
    df = spark.createDataFrame(
        rows, "cell_id int, time date, temp double, seas double, thresh double"
    )
    whole = fused_detect_metrics(
        enrich_series(exceedance(df)),
        min_duration=min_duration,
        max_gap=max_gap,
        materialize_runs=materialize_runs,
    )

    cuts = sorted({int(f * len(temps)) for f in cut_fracs})
    bounds = [DAY0 + dt.timedelta(days=c) for c in cuts]
    batches = []
    lo = None
    for b in bounds + [None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("time") >= F.lit(lo))
        if b is not None:
            cond = cond & (F.col("time") < F.lit(b))
        batches.append(df.filter(cond))
        lo = b
    # batches may ARRIVE in any order (the declared contract): union
    # them in a random permutation, not time order
    random.Random(shuffle_seed).shuffle(batches)
    parts = batches[0].transform(detect_partials)
    for b in batches[1:]:
        parts = parts.unionByName(detect_partials(b))
    merged = merge_detect_partials(
        parts,
        min_duration=min_duration,
        max_gap=max_gap,
        materialize_runs=materialize_runs,
    )

    assert set(whole.columns) == set(merged.columns)
    cols = sorted(whole.columns)
    a = sorted(whole.select(*cols).collect(), key=lambda r: r["event_id"])
    b = sorted(merged.select(*cols).collect(), key=lambda r: r["event_id"])
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for c in cols:
            va, vb = ra[c], rb[c]
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (
                    c,
                    ra,
                    rb,
                )
            else:
                assert va == vb, (c, ra, rb)


def test_null_seas_first_batch_does_not_null_moments(spark):
    """Regression (ADVICE r5): if the EARLIEST batch has no non-null
    rel_seas for a cell (seas NULL across its slice), the canonical
    center must come from the first batch that HAS one — centering on
    the earliest batch unconditionally would NULL the re-centering
    delta and wipe intensity mean/var/cumulative for every batch."""
    rows = []
    for i in range(30):
        seas = None if i < 10 else 2.0e5 + 10.0
        temp = 2.0e5 + 15.0 if 12 <= i <= 24 else 2.0e5 + 8.0
        rows.append((0, DAY0 + dt.timedelta(days=i), temp, seas, 2.0e5 + 12.0))
    df = spark.createDataFrame(
        rows, "cell_id int, time date, temp double, seas double, thresh double"
    )
    whole = fused_detect_metrics(
        enrich_series(exceedance(df)), materialize_runs=False
    )
    cut = DAY0 + dt.timedelta(days=10)  # batch 1 = exactly the NULL-seas days
    parts = detect_partials(df.filter(F.col("time") < F.lit(cut))).unionByName(
        detect_partials(df.filter(F.col("time") >= F.lit(cut)))
    )
    merged = merge_detect_partials(parts, materialize_runs=False)

    a = whole.orderBy("event_id").collect()
    b = merged.orderBy("event_id").collect()
    assert len(a) == len(b) == 1
    assert a[0]["intensity_mean"] is not None
    for c in whole.columns:
        va, vb = a[0][c], b[0][c]
        if isinstance(va, float) and isinstance(vb, float):
            assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (c, va, vb)
        else:
            assert va == vb, (c, va, vb)
