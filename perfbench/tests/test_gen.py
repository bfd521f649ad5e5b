"""The benchmark's generators are pure functions of the seed: the same
seed gives byte-identical files, another seed gives other files, and
the planted positions they return are where the data says they are.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import gen  # noqa: E402


def digest_dir(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


@pytest.fixture(scope="module")
def grid():
    return gen.sst_grid(7, 2, 3)


def test_grid_is_a_function_of_the_seed(grid):
    again = gen.sst_grid(7, 2, 3)
    assert grid.temp.tobytes() == again.temp.tobytes()
    assert np.array_equal(grid.planted, again.planted)
    other = gen.sst_grid(8, 2, 3)
    assert grid.temp.tobytes() != other.temp.tobytes()


def test_grid_shape_and_planted_heatwaves(grid):
    assert grid.temp.shape == (12053, 2, 3)
    assert grid.temp.dtype == np.float32
    pl = grid.planted
    assert len(pl) == gen.HEATWAVES_PER_CELL * grid.n_cells
    assert pl[:, 0].min() == 0 and pl[:, 0].max() == grid.n_cells - 1
    assert (pl[:, 2] - pl[:, 1] + 1 >= 10).all() and (pl[:, 2] < grid.n_days).all()
    flat = grid.temp.reshape(grid.n_days, -1).astype(np.float64)
    clim = np.array([flat[d::365].mean(axis=0) for d in range(365)])
    anom = flat - clim[np.arange(grid.n_days) % 365]
    for cell, lo, hi in pl:
        # the flat top of every bump stands well above the red noise
        assert anom[lo + 3 : hi - 2, cell].mean() > 1.5


def test_yearly_netcdf_is_byte_identical_and_readable(grid, tmp_path):
    from mhw3d_detection_spark.sources.netcdf import read_netcdf_file

    a = gen.write_yearly_netcdf(grid, str(tmp_path / "a"))
    gen.write_yearly_netcdf(gen.sst_grid(7, 2, 3), str(tmp_path / "b"))
    assert len(a) == 33
    assert digest_dir(str(tmp_path / "a")) == digest_dir(str(tmp_path / "b"))
    cube, times, coords = read_netcdf_file(a[1], "sst")
    lo, hi = gen.year_bounds(1983)
    assert np.array_equal(cube, grid.temp[lo:hi])
    assert str(times[0].date()) == "1983-01-01" and len(times) == 365
    assert np.array_equal(coords["lat"], grid.lat.astype(np.float64))


def test_append_slices_are_byte_identical_and_tile_the_tail(grid, tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_append_slices(grid, str(tmp_path / "a"), 2012, 30)
    gen.write_append_slices(grid, str(tmp_path / "b"), 2012, 30)
    assert digest_dir(str(tmp_path / "a")) == digest_dir(str(tmp_path / "b"))
    los = [lo for _, lo, _ in a]
    his = [hi for _, _, hi in a]
    assert los[0] == gen.year_bounds(2012)[0] and his[-1] == grid.n_days
    assert los[1:] == his[:-1]
    t = pq.read_table(a[0][0]).to_pandas()
    assert len(t) == 30 * grid.n_cells
    assert str(t.time.iloc[0].date()) == "2012-01-01"
    assert np.array_equal(t.temp.to_numpy()[: grid.n_cells],
                          grid.temp[los[0]].reshape(-1).astype(np.float64))


def _shingles(text: str) -> set:
    t = re.findall("[a-z0-9]+", text.lower())
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def test_corpus_is_byte_identical_and_planted_duplicates_are_near(tmp_path):
    import pyarrow.parquet as pq

    c1, c2 = gen.corpus(3, 600), gen.corpus(3, 600)
    pq.write_table(c1.table(), str(tmp_path / "a.parquet"))
    pq.write_table(c2.table(), str(tmp_path / "b.parquet"))
    assert digest_dir(str(tmp_path)) == {
        "a.parquet": digest_dir(str(tmp_path))["b.parquet"],
        "b.parquet": digest_dir(str(tmp_path))["b.parquet"],
    }
    assert gen.corpus(4, 600).text != c1.text
    assert sorted(c1.doc_id.tolist()) == list(range(600))
    assert len(set(c1.source)) == gen.N_SOURCES
    assert len(c1.planted) == int(600 * gen.DUP_FRAC)
    text = dict(zip(c1.doc_id.tolist(), c1.text))
    seeds = set(c1.planted[:, 1].tolist())
    assert not seeds & set(c1.planted[:, 0].tolist())
    for dup, seed in c1.planted:
        a, b = _shingles(text[dup]), _shingles(text[seed])
        assert len(a & b) / len(a | b) > 0.6
