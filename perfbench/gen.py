"""Seeded input generators for the benchmark.

Every input the engine sees is made here from ``--seed`` alone; the
same seed gives byte-identical files. Three generators:

- :func:`sst_grid` / :func:`write_yearly_netcdf`: a daily SST cube
  (seasonal cycle + latitude gradient + AR(1) red-noise anomalies +
  planted heatwaves) written as one classic netCDF file per year, the
  OISST ``sst.day.mean.YYYY.nc`` layout.
- :func:`write_append_slices`: the post-baseline part of the same cube
  cut into fixed-size time slices, one parquet file each, for the
  incremental workload.
- :func:`corpus`: documents over a Zipf-Mandelbrot vocabulary with planted
  near-duplicate clusters.

The planted positions (heatwave cell/start/end, duplicate -> seed doc)
are returned with the data so the output checks can score recall.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(1982, 1, 1)
LAST_DAY = dt.date(2014, 12, 31)
BASELINE = (1982, 2011)
#: OISST time units; the reader decodes CF "days since" offsets
TIME_UNITS = "days since 1800-01-01 00:00:00"
_EPOCH_OFFSET = (DAY0 - dt.date(1800, 1, 1)).days


@dataclass(frozen=True)
class SstGrid:
    """The generated cube and its ground truth.

    ``temp`` is float32 ``(time, lat, lon)``; cell_id is the row-major
    flat index over (lat, lon), as the engine's ingest assigns it.
    ``planted`` rows are ``(cell_id, start_day, end_day)`` as day
    offsets from :data:`DAY0`, inclusive.
    """

    temp: np.ndarray
    lat: np.ndarray
    lon: np.ndarray
    planted: np.ndarray

    @property
    def n_days(self) -> int:
        return self.temp.shape[0]

    @property
    def n_cells(self) -> int:
        return self.temp.shape[1] * self.temp.shape[2]


#: AR(1) anomalies: lag-1 autocorrelation and stationary standard
#: deviation (C). Red noise is the usual null model for SST anomalies;
#: with these values exceedances of the 90th percentile cluster into
#: multi-day runs, about 2 events per cell-year as on observed OISST
PHI = 0.9
ANOM_SD = 0.7
#: planted warm bumps per cell, 10-40 days and +2.5..4 C each
HEATWAVES_PER_CELL = 6


def sst_grid(seed: int, ny: int, nx: int) -> SstGrid:
    """Daily SST 1982-01-01..2014-12-31 on an ``ny`` x ``nx`` grid.

    Anomalies are AR(1) (:data:`PHI`, :data:`ANOM_SD`). Each cell also
    gets :data:`HEATWAVES_PER_CELL` planted warm bumps, non-overlapping
    and spread over the whole record.
    """
    rng = np.random.default_rng(seed)
    n_days = (LAST_DAY - DAY0).days + 1
    lat = np.linspace(-42.0, -38.0, ny, dtype=np.float32)
    lon = np.linspace(152.0, 156.0, nx, dtype=np.float32)
    doy = np.arange(n_days) % 365.25
    seasonal = 2.5 * np.cos(2 * np.pi * (doy - 45.0) / 365.25)
    # warmer toward the equator, small zonal tilt
    base = 17.0 + 0.8 * (lat[:, None] + 40.0) + 0.1 * (lon[None, :] - 154.0)

    innov = rng.standard_normal((n_days, ny * nx)) * ANOM_SD * np.sqrt(
        1.0 - PHI * PHI
    )
    anom = np.empty_like(innov)
    anom[0] = rng.standard_normal(ny * nx) * ANOM_SD
    for t in range(1, n_days):
        anom[t] = PHI * anom[t - 1] + innov[t]

    planted = []
    span = n_days // HEATWAVES_PER_CELL
    for cell in range(ny * nx):
        for k in range(HEATWAVES_PER_CELL):
            dur = int(rng.integers(10, 41))
            start = k * span + int(rng.integers(0, span - dur))
            amp = rng.uniform(2.5, 4.0)
            # flat top with 2-day ramps, like an observed warm spell
            shape = np.minimum(1.0, np.minimum(
                np.arange(1, dur + 1), np.arange(dur, 0, -1)) / 3.0)
            anom[start:start + dur, cell] += amp * shape
            planted.append((cell, start, start + dur - 1))

    temp = (
        seasonal[:, None, None] + base[None, :, :]
        + anom.reshape(n_days, ny, nx)
    ).astype(np.float32)
    return SstGrid(temp, lat, lon, np.asarray(planted, dtype=np.int64))


def year_bounds(year: int) -> tuple[int, int]:
    """Day offsets ``[lo, hi)`` of ``year`` from :data:`DAY0`."""
    lo = (dt.date(year, 1, 1) - DAY0).days
    return lo, (dt.date(year + 1, 1, 1) - DAY0).days


def write_yearly_netcdf(grid: SstGrid, out_dir: str) -> list[str]:
    """One classic netCDF file per year, ``sst(time, lat, lon)``
    float32 with CF time, as NOAA publishes OISST. Returns the paths."""
    from mhw3d_detection_spark.sources.netcdf import write_netcdf_classic

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for year in range(DAY0.year, LAST_DAY.year + 1):
        lo, hi = year_bounds(year)
        path = os.path.join(out_dir, f"sst.day.mean.{year}.nc")
        write_netcdf_classic(
            path,
            {"time": None, "lat": len(grid.lat), "lon": len(grid.lon)},
            {
                "lat": (["lat"], grid.lat, {"units": "degrees_north"}),
                "lon": (["lon"], grid.lon, {"units": "degrees_east"}),
                "time": (
                    ["time"],
                    np.arange(lo, hi, dtype=np.float64) + _EPOCH_OFFSET,
                    {"units": TIME_UNITS, "calendar": "standard"},
                ),
                "sst": (
                    ["time", "lat", "lon"],
                    grid.temp[lo:hi],
                    {"units": "degC", "long_name": "Daily Sea Surface Temperature"},
                ),
            },
        )
        paths.append(path)
    return paths


SLICE_SCHEMA = pa.schema(
    [("cell_id", pa.int64()), ("time", pa.timestamp("us", tz="UTC")),
     ("temp", pa.float64())]
)


def slice_table(grid: SstGrid, lo: int, hi: int) -> pa.Table:
    """Long-format rows of day offsets ``[lo, hi)``, time-major."""
    n_cells = grid.n_cells
    days = np.arange(lo, hi)
    epoch = (DAY0 - dt.date(1970, 1, 1)).days
    micros = (days + epoch).astype(np.int64) * 86_400_000_000
    return pa.table(
        {
            "cell_id": np.tile(np.arange(n_cells, dtype=np.int64), len(days)),
            "time": np.repeat(micros, n_cells),
            "temp": grid.temp[lo:hi].reshape(-1).astype(np.float64),
        },
        schema=SLICE_SCHEMA,
    )


def write_append_slices(
    grid: SstGrid, out_dir: str, start_year: int, slice_days: int
) -> list[tuple[str, int, int]]:
    """Cut the record from ``start_year`` on into ``slice_days``-day
    parquet files. Returns ``(path, lo, hi)`` per slice, in time
    order; the last slice may be shorter."""
    os.makedirs(out_dir, exist_ok=True)
    lo0, _ = year_bounds(start_year)
    out = []
    for k, lo in enumerate(range(lo0, grid.n_days, slice_days)):
        hi = min(lo + slice_days, grid.n_days)
        path = os.path.join(out_dir, f"slice-{k:04d}.parquet")
        pq.write_table(slice_table(grid, lo, hi), path)
        out.append((path, lo, hi))
    return out


@dataclass(frozen=True)
class Corpus:
    """Documents ``(doc_id, source, text)`` and, for each planted
    near-duplicate, ``(dup_doc_id, seed_doc_id)``."""

    doc_id: np.ndarray
    source: list[str]
    text: list[str]
    planted: np.ndarray

    def table(self) -> pa.Table:
        return pa.table(
            {"doc_id": self.doc_id, "source": self.source, "text": self.text}
        )


_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "st", "tr", "pl", "sh"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


#: synthetic words; large enough that random documents share almost
#: no 3-shingles (unlike a 40-word test vocabulary)
VOCAB_SIZE = 5_000
#: Zipf-Mandelbrot word law p(rank r) ~ 1 / (r + ZIPF_Q) ** ZIPF_S,
#: the usual fit to English word counts
ZIPF_S = 1.0
ZIPF_Q = 2.7
N_SOURCES = 20
#: share of documents that are planted near-duplicates, and the share
#: of a duplicate's tokens edited away from its seed document
DUP_FRAC = 0.15
EDIT_FRAC = 0.03


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of 60-240 tokens over :data:`VOCAB_SIZE`
    synthetic words drawn from the Zipf-Mandelbrot law, attributed to
    :data:`N_SOURCES` sources. A :data:`DUP_FRAC` share of the
    documents are near-duplicates: each is a copy of an original (seed)
    document with :data:`EDIT_FRAC` of its tokens substituted, deleted
    or inserted, and sometimes from another source (cross-source
    duplication)."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, VOCAB_SIZE)
    p = 1.0 / (np.arange(1, VOCAB_SIZE + 1) + ZIPF_Q) ** ZIPF_S
    p /= p.sum()
    cdf = np.cumsum(p)

    def draw(n: int) -> list[int]:
        return np.searchsorted(cdf, rng.random(n), side="right").clip(
            0, VOCAB_SIZE - 1).tolist()

    n_dups = int(n_docs * DUP_FRAC)
    n_orig = n_docs - n_dups
    toks: list[list[int]] = [draw(int(rng.integers(60, 241))) for _ in range(n_orig)]
    sources = [int(rng.integers(N_SOURCES)) for _ in range(n_orig)]
    # clusters of 1-4 copies around randomly chosen seeds
    planted = []
    while len(planted) < n_dups:
        seed_doc = int(rng.integers(n_orig))
        for _ in range(min(int(rng.integers(1, 5)), n_dups - len(planted))):
            t = list(toks[seed_doc])
            for _ in range(max(1, int(len(t) * EDIT_FRAC))):
                i = int(rng.integers(len(t)))
                op = int(rng.integers(3))
                if op == 0:
                    t[i] = draw(1)[0]
                elif op == 1 and len(t) > 10:
                    del t[i]
                else:
                    t.insert(i, draw(1)[0])
            planted.append((len(toks), seed_doc))
            toks.append(t)
            same = rng.random() < 0.7
            sources.append(sources[seed_doc] if same else int(rng.integers(N_SOURCES)))
    # shuffle doc ids so duplicates are not contiguous with their seeds
    perm = rng.permutation(n_docs)
    doc_id = perm.astype(np.int64)
    text = [" ".join(words[w] for w in t) + "." for t in toks]
    src = [f"src{sources[i]:02d}" for i in range(n_docs)]
    pl = np.asarray([(perm[d], perm[s]) for d, s in planted], dtype=np.int64)
    return Corpus(doc_id, src, text, pl.reshape(-1, 2))
