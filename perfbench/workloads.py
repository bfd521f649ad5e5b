"""The benchmark's workloads: one client running jobs in a closed loop
against a local Spark session.

- ``mhw_batch``: yearly netCDF files -> parquet store (set-up), then
  each job reads the store, runs ``plans.detect_mhw`` and writes the
  event table to a sink. After the timed loop the events are rebuilt
  on the incremental path (``streaming_detect_partials`` drains the
  2012-2014 tail) and must equal the jobs'.
- ``mhw_append``: the 1982-2011 climatology and history partials are
  stored in set-up; each job drops one time slice into a directory that
  ``streaming.streaming_detect_partials`` watches, drains it with an
  ``availableNow`` trigger, then runs ``merge_detect_partials`` over the
  whole partials store.
- ``corpus_dedup``: each job runs ``plans.dedup_report`` over a seeded
  near-duplicate corpus and writes the report to a sink.

Each workload's set-up is ``prepare`` (generate + ingest, repeated and
timed) followed by ``warmup_jobs`` untimed jobs; ``job`` is the timed
body, ``check`` the output check after each job and ``finish`` the
check after the last one, both outside the timed window.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

#: the smallest share of planted heatwaves / planted duplicates a
#: correct engine must recover on these inputs
RECALL_FLOOR = 0.85
#: events equal when every float differs by at most this much, the
#: agreement ``detect_partials`` documents for merged vs whole-series
#: detection (moment sums are re-associated, ~1e-12 relative)
EVENT_TOL = 1e-9
#: the append slices' schema, as ``gen.SLICE_SCHEMA`` writes them
SLICE_SCHEMA = "cell_id long, time timestamp, temp double"


def events_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same events: identical keys, dates and counts; floats within
    :data:`EVENT_TOL` (absolute or relative)."""
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    key = ["cell_id", "date_start"]
    a = a.sort_values(key, ignore_index=True)
    b = b.sort_values(key, ignore_index=True)[a.columns]
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            nan = np.isnan(x)
            if not np.array_equal(nan, np.isnan(y)):
                return False
            if not np.allclose(x[~nan], y[~nan], rtol=EVENT_TOL, atol=EVENT_TOL):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


def heatwave_recall(events: pd.DataFrame, grid: gen.SstGrid, upto: int) -> float:
    """Share of planted heatwaves (ending before day offset ``upto``)
    overlapped by a detected event in the same cell."""
    planted = pd.DataFrame(grid.planted, columns=["cell_id", "lo", "hi"])
    planted = planted[planted.hi < upto].reset_index(names="pid")
    day0 = np.datetime64(gen.DAY0.isoformat(), "D")
    ev = pd.DataFrame({
        "cell_id": events["cell_id"].to_numpy(),
        "s": (events["date_start"].to_numpy().astype("datetime64[D]") - day0).astype(np.int64),
        "e": (events["date_end"].to_numpy().astype("datetime64[D]") - day0).astype(np.int64),
    })
    m = planted.merge(ev, on="cell_id")
    hit = m[(m.s <= m.hi) & (m.e >= m.lo)].pid.nunique()
    return hit / max(len(planted), 1)


def read_sink(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    """Base: subclasses set ``name`` and implement the hooks."""

    name = ""
    #: what one processed item is, for ``items_per_s``
    item = ""
    #: untimed jobs run before the timed loop
    warmup_jobs = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.seed = ctx.seed
        self.work = ctx.work
        self.recall = 0.0
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    # hooks --------------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def job(self, i: int) -> int:
        """Run job ``i``; return the number of items it processed."""
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def finish(self) -> bool:
        """Checks that need the whole run, after the timed loop; False
        fails every job."""
        return True


# -------------------------------------------------------- incremental path
def history_partials(w: Workload, hist, out: str):
    """Store the climatology of ``hist`` (the 1982-2011 baseline) and
    write the run partials of ``hist`` scored against it to
    ``out/batch=-1``. Returns the stored climatology."""
    from mhw3d_detection_spark.operators.climatology import pooled_climatology
    from mhw3d_detection_spark.operators.detection import detect_partials
    from mhw3d_detection_spark.operators.severity import calculate_severity

    with w.span("pooled_climatology", "climatology") as s:
        clim = pooled_climatology(
            hist, baseline=gen.BASELINE, pool_mode="grid", output="arrays")
        s.mark_called()
        clim.write.mode("overwrite").parquet(w.path("clim"))
    clim = w.spark.read.parquet(w.path("clim"))
    with w.span("calculate_severity", "severity"):
        sev = calculate_severity(hist, clim)
    with w.span("detect_partials", "detection") as s:
        parts = detect_partials(sev)
        s.mark_called()
        parts.write.parquet(os.path.join(out, "batch=-1"))
    return clim


def drain(w: Workload, watch: str, clim, partials: str) -> int:
    """Score the slice files new in ``watch`` against ``clim`` and
    compress them into ``partials`` through
    ``streaming_detect_partials``, one micro-batch per file, with
    ``trigger(availableNow=True)`` on the persistent checkpoint
    ``w.path("ckpt")``. Returns the number of micro-batches."""
    from mhw3d_detection_spark.operators.severity import calculate_severity
    from mhw3d_detection_spark.streaming import streaming_detect_partials

    stream = (
        w.spark.readStream.schema(SLICE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    with w.span("calculate_severity", "severity"):
        sev = calculate_severity(stream, clim)
    with w.span("streaming_detect_partials", "streaming") as s:
        q = (
            streaming_detect_partials(sev, partials)
            .option("checkpointLocation", w.path("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        s.mark_called()
        q.awaitTermination()
        s.add_group(str(q.runId))
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return len(q.recentProgress)


def merge_to_sink(w: Workload, partials: str, sink: str, materialize_runs: bool = True) -> None:
    """Write ``merge_detect_partials`` over the store ``partials`` to
    ``sink``."""
    from mhw3d_detection_spark.operators.detection import merge_detect_partials

    with w.span("merge_detect_partials", "detection") as s:
        events = merge_detect_partials(
            w.spark.read.parquet(partials), materialize_runs=materialize_runs)
        s.mark_called()
        events.write.mode("overwrite").parquet(sink)


# ---------------------------------------------------------------- mhw_batch
class MhwBatch(Workload):
    name = "mhw_batch"
    item = "sst_sample"
    #: 4 x 4 cells, not the reference 16 x 16: a job's cost is set by
    #: task counts, not rows (README.md), and the larger grid does not
    #: fit the run-time budget
    ny = nx = 4
    #: each job is the first detect_mhw of a fresh session: a warm-up
    #: job would double the run time (README.md)
    warmup_jobs = 0
    #: the 2012-2014 tail is streamed in this many slices by
    #: :meth:`finish`, one micro-batch each
    tail_slices = 3

    def prepare(self) -> None:
        from mhw3d_detection_spark.sources.netcdf import read_netcdf_long

        self.grid = gen.sst_grid(self.seed, self.ny, self.nx)
        nc_dir = self.path("netcdf")
        shutil.rmtree(nc_dir, ignore_errors=True)
        files = gen.write_yearly_netcdf(self.grid, nc_dir)
        with self.span("read_netcdf_long", "sources") as s:
            ts = read_netcdf_long(self.spark, files, value_col="temp")
            s.mark_called()
            ts.write.mode("overwrite").parquet(self.path("store"))
        self.samples = self.grid.n_days * self.grid.n_cells
        self.ctx.count("sources.rows", self.samples)
        self.ref: pd.DataFrame | None = None

    def job(self, i: int) -> int:
        from mhw3d_detection_spark.plans import detect_mhw

        ts = self.spark.read.parquet(self.path("store"))
        with self.span("detect_mhw", "plans") as s:
            events = detect_mhw(ts, baseline=gen.BASELINE, pool_mode="grid")
            s.mark_called()
            events.write.mode("overwrite").parquet(self.path("sink"))
        return self.samples

    def check(self, i: int) -> bool:
        ev = read_sink(self.path("sink"))
        self.recall = heatwave_recall(ev, self.grid, self.grid.n_days)
        sane = (
            ev.cell_id.nunique() == self.grid.n_cells
            and bool((ev.duration >= 5).all())
            and bool((ev.date_end >= ev.date_start).all())
        )
        if self.ref is None:
            self.ref = ev
            n = len(ev)
            self.info["events"] = n
            self.info["events_per_cell_year"] = round(
                n / self.grid.n_cells / (gen.LAST_DAY.year - gen.DAY0.year + 1), 4)
            self.ctx.count("detection.events", n)
            self.ctx.count("detection.events_per_cell_year", self.info["events_per_cell_year"])
            same = True
        else:
            same = events_match(ev, self.ref)
        return sane and same and self.recall >= RECALL_FLOOR

    def finish(self) -> bool:
        """The jobs' events, rebuilt on the incremental path: partials
        of the 1982-2011 history in batch, the 2012-2014 tail drained
        through ``streaming_detect_partials`` in :attr:`tail_slices`
        micro-batches, and ``merge_detect_partials`` over both must
        equal the last job's events."""
        from pyspark.sql import functions as F

        for d in ("tail", "watch", "partials", "ckpt"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        lo = gen.year_bounds(gen.BASELINE[1] + 1)[0]
        hist = self.spark.read.parquet(self.path("store")).where(
            F.col("time") < F.lit(f"{gen.BASELINE[1] + 1}-01-01").cast("timestamp"))
        clim = history_partials(self, hist, self.path("partials"))
        days = -(-(self.grid.n_days - lo) // self.tail_slices)
        slices = gen.write_append_slices(self.grid, self.path("tail"), gen.BASELINE[1] + 1, days)
        os.makedirs(self.path("watch"))
        for p, _, _ in slices:
            os.rename(p, self.path("watch", os.path.basename(p)))
        batches = drain(self, self.path("watch"), clim, self.path("partials"))
        self.ctx.count("streaming.batches", batches)
        # unpersisted runs: the persisted ones keep 1 024 partitions
        # (README.md) and would make this check cost as much as a job
        merge_to_sink(self, self.path("partials"), self.path("merged"), materialize_runs=False)
        return batches == len(slices) and events_match(
            read_sink(self.path("merged")), read_sink(self.path("sink")))


# --------------------------------------------------------------- mhw_append
class MhwAppend(Workload):
    name = "mhw_append"
    item = "sst_sample"
    ny = nx = 4
    slice_days = 30

    def prepare(self) -> None:
        from mhw3d_detection_spark.sources.netcdf import read_netcdf_long

        for d in ("netcdf", "slices", "watch", "partials", "ckpt", "series"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        self.grid = gen.sst_grid(self.seed, self.ny, self.nx)
        files = gen.write_yearly_netcdf(self.grid, self.path("netcdf"))
        hist_files = [f for f in files if int(f.rsplit(".", 2)[-2]) <= gen.BASELINE[1]]
        self.slices = gen.write_append_slices(
            self.grid, self.path("slices"), gen.BASELINE[1] + 1, self.slice_days)
        os.makedirs(self.path("watch"))
        with self.span("read_netcdf_long", "sources") as s:
            hist = read_netcdf_long(self.spark, hist_files, value_col="temp")
            s.mark_called()
            hist.select("cell_id", "time", "temp").write.parquet(self.path("series"))
        hist = self.spark.read.parquet(self.path("series"))
        self.horizon = gen.year_bounds(gen.BASELINE[1] + 1)[0]
        self.ctx.count("sources.rows", self.horizon * self.grid.n_cells)
        self.clim = history_partials(self, hist, self.path("partials"))
        self.next_slice = 0

    def job(self, i: int) -> int:
        if self.next_slice >= len(self.slices):
            raise RuntimeError("append slices exhausted; shorten the run")
        path, lo, hi = self.slices[self.next_slice]
        self.next_slice += 1
        os.rename(path, self.path("watch", os.path.basename(path)))
        self.ctx.count("streaming.batches",
                       drain(self, self.path("watch"), self.clim, self.path("partials")))
        merge_to_sink(self, self.path("partials"), self.path("sink"))
        self.horizon = hi
        return (hi - lo) * self.grid.n_cells

    def check(self, i: int) -> bool:
        ev = read_sink(self.path("sink"))
        last = np.datetime64(gen.DAY0.isoformat(), "D") + (self.horizon - 1)
        self.info["events"] = len(ev)
        self.ctx.count("detection.events", len(ev))
        return len(ev) > 0 and bool(
            (ev["date_end"].to_numpy().astype("datetime64[D]") <= last).all())

    def finish(self) -> bool:
        """Merged events after the last append == ``detect_mhw`` over
        the whole series appended so far."""
        from mhw3d_detection_spark.plans import detect_mhw

        appended = [
            self.path("watch", os.path.basename(p)) for p, _, _ in self.slices[: self.next_slice]
        ]
        series = self.spark.read.parquet(self.path("series")).unionByName(
            self.spark.read.schema(SLICE_SCHEMA).parquet(*appended))
        whole = detect_mhw(series, baseline=gen.BASELINE, pool_mode="grid")
        whole.write.mode("overwrite").parquet(self.path("whole"))
        ref = read_sink(self.path("whole"))
        self.recall = heatwave_recall(read_sink(self.path("sink")), self.grid, self.horizon)
        return events_match(read_sink(self.path("sink")), ref) and self.recall >= RECALL_FLOOR


# ------------------------------------------------------------- corpus_dedup
class CorpusDedup(Workload):
    name = "corpus_dedup"
    item = "doc"
    n_docs = 5_000
    #: the first job of a session takes 15-18 s against ~7 s for the
    #: next ones (code generation, Python workers, JIT); a second
    #: warm-up job would lower the median by ~0.5 s for ~7 s a run
    warmup_jobs = 1

    def prepare(self) -> None:
        self.corpus = gen.corpus(self.seed, self.n_docs)
        pq.write_table(self.corpus.table(), self.path("docs.parquet"))
        self.ref: pd.DataFrame | None = None

    def job(self, i: int) -> int:
        from mhw3d_detection_spark.plans import audit_hook, dedup_report

        docs = self.spark.read.parquet(self.path("docs.parquet"))
        # keep the checkpointed components dedup_report builds, so the
        # recall check reads them instead of recomputing the LSH
        kept = {}
        real_ckpt = audit_hook.ckpt

        def keep_ckpt(df, stage, **kw):
            kept[stage] = out = real_ckpt(df, stage, **kw)
            return out

        audit_hook.ckpt = keep_ckpt
        try:
            with self.span("dedup_report", "plans") as s:
                report = dedup_report(docs)
                s.mark_called()
                report.write.mode("overwrite").parquet(self.path("sink"))
        finally:
            audit_hook.ckpt = real_ckpt
        self.kept = kept
        return self.n_docs

    def check(self, i: int) -> bool:
        rep = read_sink(self.path("sink"))
        rep = rep.sort_values(list(rep.columns), ignore_index=True)
        comp = self.kept["components"].toPandas()
        label = dict(zip(comp.doc_id, comp.component))
        pl = self.corpus.planted
        hits = sum(
            1 for d, s in pl if d in label and label[d] == label.get(s, -1)
        )
        self.recall = hits / max(len(pl), 1)
        if self.ref is None:
            self.ref = rep
            pairs = self.kept["pairs"]
            self.info["candidate_pairs"] = pairs.count()
            self.ctx.count("textops.candidate_pairs", self.info["candidate_pairs"])
            if self.tracer.enabled:
                self.ctx.count("textops.pair_precision", self._precision(pairs))
            same = True
        else:
            same = rep.equals(self.ref)
        return same and self.recall >= RECALL_FLOOR

    def _precision(self, pairs) -> float:
        """Candidates whose true 3-shingle Jaccard is >= 0.5, over all."""
        import re

        from mhw3d_detection_spark.operators.textops import TOKEN_RE

        text = dict(zip(self.corpus.doc_id.tolist(), self.corpus.text))
        cache: dict[int, set] = {}

        def sh(d: int) -> set:
            if d not in cache:
                t = re.findall(TOKEN_RE, text[d].lower())
                cache[d] = {" ".join(t[k:k + 3]) for k in range(len(t) - 2)}
            return cache[d]

        rows = pairs.select("doc_a", "doc_b").collect()
        good = sum(
            1 for a, b in rows
            if len(sh(a) & sh(b)) >= 0.5 * len(sh(a) | sh(b))
        )
        return good / max(len(rows), 1)


WORKLOADS = {w.name: w for w in (MhwBatch, MhwAppend, CorpusDedup)}

