"""The benchmark's workloads. Each enters the program through one public
entry point with every program default left as is:

- ``crawl_job``: ``jobs.geocode_job.run_job``, cold, over a partitioned
  pages table;
- ``stream_ingest``: ``streaming.geocode_stream.geocode_pages_stream``
  with the ``availableNow`` trigger, one file per micro-batch;
- ``spatial_queries``: the ``operators.spatial`` query functions over
  materialized points.

A workload's ``setup`` makes its inputs from the seed (the same seed
gives the same inputs on every repetition), builds the gazetteer index
and makes one warm-up pass. ``call`` is one closed-loop operation,
checked against the truth the generator knows. ``layers`` runs only in
traced runs and returns the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import gen
import layers
from harness import CallResult, Tracer, median


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    tracer: Tracer
    tiny: bool

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


class Workload:
    name = ""
    CALL_SPANS: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.n_calls = 0

    @property
    def spark(self) -> SparkSession:
        return self.ctx.spark

    def rng(self, salt: int = 0) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, salt])

    def gazetteer(self, rep_dir: str):
        self.gaz = gen.gazetteer(self.ctx.seed)
        self.gaz_path = gen.write_gazetteer(self.gaz, os.path.join(rep_dir, "gaz"))
        self.pool = gen.address_pool(self.rng(1), self.gaz, 720)

    def build_index(self):
        from nominatimwrapper_spark.operators.geocode import build_gazetteer_index

        self.index = build_gazetteer_index(self.spark.read.parquet(self.gaz_path))

    def setup(self, rep_dir: str, warm: bool) -> None:
        """Generate the inputs under ``rep_dir`` and build the index; with
        ``warm``, also make the warm-up pass."""
        raise NotImplementedError

    def call(self) -> CallResult:
        raise NotImplementedError

    def common_layers(self, lat: np.ndarray, lon: np.ndarray) -> dict[str, float]:
        t = self.ctx.tracer
        build_s, index = layers.index_build(t, self.spark, self.gaz_path)
        html = list(gen.pages(self.rng(7), self.pool, 200, 0.3, "probe")["html"])
        addr = layers.kernel_sample(self.pool, 200, self.rng(8))
        return {
            "geocode.index_build_s": build_s,
            **layers.probes(t, html, addr, index, lat, lon),
        }

    def layers(self) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# crawl_job
# ---------------------------------------------------------------------------


class CrawlJob(Workload):
    name = "crawl_job"
    CALL_SPANS = ("jobs.run_job",)

    def setup(self, rep_dir: str, warm: bool) -> None:
        from nominatimwrapper_spark.jobs.geocode_job import run_job

        n = 800 if self.ctx.tiny else 24_000
        # every set-up writes the same gazetteer to the same path, so the
        # job's own index cache (keyed on path and file sizes) is built
        # once, by the warm-up pass, and hit by every measured call
        self.gazetteer(self.ctx.work)
        self.pages_path = os.path.join(rep_dir, "pages")
        self.truth = gen.crawl_table(self.rng(2), self.pool, self.pages_path, n)
        self.build_index()
        if warm:
            run_job(self.spark, self.pages_path, self.gaz_path, os.path.join(rep_dir, "warm"))
        self.manifests: list[dict] = []
        self.out_bytes: list[int] = []

    def call(self) -> CallResult:
        from nominatimwrapper_spark.jobs.geocode_job import run_job

        out = self.ctx.fresh(f"job_out_{self.n_calls % 2}")
        self.last_out = out
        self.n_calls += 1
        with self.ctx.tracer.span("jobs.run_job"):
            t0 = time.perf_counter()
            m = run_job(self.spark, self.pages_path, self.gaz_path, out)
            wall = time.perf_counter() - t0
        got = pd.concat(
            pd.read_parquet(os.path.join(out, f"part={p}", "data"), columns=["url", "place_id"])
            for p in m
        )
        self.manifests.append(m)
        self.out_bytes.append(_dir_bytes(out))
        return CallResult(
            items=len(self.truth), wall_s=wall, latencies=[wall],
            attempted=len(self.truth), failed=gen.page_failures(got, self.truth),
        )

    def layers(self) -> dict[str, float]:
        from nominatimwrapper_spark.jobs.geocode_job import list_crawl_dates, run_job
        from nominatimwrapper_spark.sources.pages_io import read_pages

        t = self.ctx.tracer
        walls = [v["wall_sec"] for m in self.manifests for v in m.values()]
        with t.span("jobs.run_job.resume"):
            again = run_job(self.spark, self.pages_path, self.gaz_path, self.last_out)
        out = {
            "jobs.partition_wall_s.p50": median(walls),
            "jobs.partition_wall_s.max": max(walls),
            "jobs.output_bytes_per_page": median(self.out_bytes) / len(self.truth),
            "jobs.partitions_resumed": sum(bool(v.get("resumed")) for v in again.values()),
        }
        out.update(self.common_layers(self.pool.lat.to_numpy(), self.pool.lon.to_numpy()))
        out.update(layers.pages_prefixes(t, read_pages(self.spark, self.pages_path), self.index))
        # the streaming layer over the same pages: one partition file per
        # micro-batch, in crawl-date order
        in_dir = self.ctx.fresh("stream_in")
        os.makedirs(in_dir)
        for i, d in enumerate(list_crawl_dates(self.pages_path)):
            dst = os.path.join(in_dir, f"{i:04d}.parquet")
            shutil.copy(os.path.join(self.pages_path, f"crawl_date={d}", "part-00000.parquet"), dst)
            os.utime(dst, (1_700_000_000 + i,) * 2)
        with t.span("streaming.geocode_pages_stream"):
            prog = layers.run_stream(self.spark, in_dir, self.index, self.ctx.fresh("stream_out"))
        out.update(layers.streaming(prog, 1))
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"
    CALL_SPANS = ("streaming.geocode_pages_stream",)

    def setup(self, rep_dir: str, warm: bool) -> None:
        self.gazetteer(rep_dir)
        n_files, per_file = (3, (150, 250)) if self.ctx.tiny else (8, (800, 1200))
        self.in_dir = os.path.join(rep_dir, "in")
        self.truth = gen.stream_files(
            self.rng(2), self.pool, self.in_dir, n_files, per_file
        )
        self.build_index()
        if warm:
            layers.run_stream(self.spark, self.in_dir, self.index, os.path.join(rep_dir, "warm"))
        self.progress: list[dict] = []

    def call(self) -> CallResult:
        out = self.ctx.fresh(f"stream_out_{self.n_calls % 2}")
        self.n_calls += 1
        with self.ctx.tracer.span("streaming.geocode_pages_stream"):
            t0 = time.perf_counter()
            prog = layers.run_stream(self.spark, self.in_dir, self.index, out)
            wall = time.perf_counter() - t0
        got = pd.read_parquet(os.path.join(out, "data"), columns=["url", "place_id"])
        self.progress.extend(prog)
        return CallResult(
            items=sum(p["numInputRows"] for p in prog), wall_s=wall,
            latencies=[p["batchDuration"] / 1000.0 for p in prog],
            attempted=len(self.truth), failed=gen.page_failures(got, self.truth),
        )

    def layers(self) -> dict[str, float]:
        from nominatimwrapper_spark.streaming.geocode_stream import PAGES_SCHEMA

        out = layers.streaming(self.progress, self.n_calls)
        out.update(self.common_layers(self.pool.lat.to_numpy(), self.pool.lon.to_numpy()))
        pages = self.spark.read.schema(PAGES_SCHEMA).parquet(self.in_dir)
        out.update(layers.pages_prefixes(self.ctx.tracer, pages, self.index))
        return out


# ---------------------------------------------------------------------------
# spatial_queries
# ---------------------------------------------------------------------------

QUERIES = ["pip_grid", "pip_h3", "knn_h3", "knn_grid", "rollup"]
WARM_QUERIES = ["pip_grid", "pip_h3", "rollup"]
K = 5
SALT = 8
ZOOMS = [9, 7, 5]


class SpatialQueries(Workload):
    name = "spatial_queries"
    CALL_SPANS = tuple(f"spatial.{q}" for q in QUERIES)
    QUERY_SPANS = QUERIES

    def setup(self, rep_dir: str, warm: bool) -> None:
        from nominatimwrapper_spark import synth

        self.gazetteer(rep_dir)
        n_pts, n_q = (3000, 10) if self.ctx.tiny else (20_000, 200)
        rng = self.rng(2)
        pts = gen.points(rng, n_pts)
        polys = synth.gen_polygons(self.gaz, seed=self.ctx.seed)
        qs = pts.iloc[rng.choice(n_pts, size=n_q, replace=False)].rename(
            columns={"pt_id": "query_id"}
        ).reset_index(drop=True)
        self.build_index()
        self.targets = self.index.places.filter(F.col("place_rank") == 30).select(
            "place_id", "lat", "lon"
        )
        self.houses = gen.houses(self.gaz)
        self._load(pts, polys, qs)
        if warm:
            for q in WARM_QUERIES:
                getattr(self, q)()
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.rows: dict[str, list[int]] = {q: [] for q in QUERIES}

    def _load(self, pts: pd.DataFrame, polys: pd.DataFrame, qs: pd.DataFrame) -> None:
        """Materialize the query inputs and build their numpy oracles."""
        from nominatimwrapper_spark.functions.h3 import latlng_to_cell

        for df in getattr(self, "_cached", ()):
            df.unpersist()
        sp = self.spark
        self.pts = sp.createDataFrame(pts).cache()
        self.polys = sp.createDataFrame(polys).cache()
        self.qs = sp.createDataFrame(qs).cache()
        self._cached = (self.pts, self.polys, self.qs)
        for df in self._cached:
            df.count()
        self.lat, self.lon = pts.lat.to_numpy(), pts.lon.to_numpy()
        self.pip_truth = gen.pip_truth(pts, polys)
        self.knn_truth = gen.knn_truth(qs, self.houses, K)
        self.q_ids = qs.query_id.to_numpy()
        cells = pd.Series(latlng_to_cell(self.lat, self.lon, 9).astype(np.int64))
        self.cell_counts = cells.value_counts()
        self.zoom_counts = {
            z: pd.Series(gen.h3_parent(cells.to_numpy(), z)).value_counts() for z in ZOOMS
        }

    def pip_grid(self):
        return self._pip("grid")

    def pip_h3(self):
        return self._pip("h3")

    def _pip(self, cover: str):
        from nominatimwrapper_spark.operators.spatial import point_in_polygon_join

        r = point_in_polygon_join(self.pts, self.polys, cover=cover).select(
            "pt_id", "poly_id"
        ).toPandas()
        return len(r), gen.pip_ok(r, self.pip_truth)

    def knn_h3(self):
        from nominatimwrapper_spark.operators.spatial import knn_h3

        return self._knn(knn_h3)

    def knn_grid(self):
        from nominatimwrapper_spark.operators.spatial import knn_cells

        return self._knn(knn_cells)

    def _knn(self, fn):
        r = fn(self.qs, self.targets, k=K).select("query_id", "dist_km").toPandas()
        return len(r), gen.knn_ok(r, self.q_ids, self.knn_truth)

    def rollup(self):
        from nominatimwrapper_spark.functions.h3 import h3_cell_col, h3_parent_col
        from nominatimwrapper_spark.operators.spatial import multi_zoom_rollup, tile_rollup

        cell = h3_cell_col(F.col("lat"), F.col("lon"), 9)
        a = tile_rollup(
            self.pts.withColumn("cell", cell), "cell", salt_partitions=SALT
        ).toPandas()
        b = multi_zoom_rollup(self.pts, cell, h3_parent_col, ZOOMS).toPandas()
        ok = gen.counts_ok(a.set_index("cell").n, self.cell_counts) and all(
            gen.counts_ok(b[b.zoom == z].set_index("cell").n, self.zoom_counts[z])
            for z in ZOOMS
        )
        return len(a) + len(b), ok

    def call(self) -> CallResult:
        failed = 0
        t_round = time.perf_counter()
        for q in QUERIES:
            with self.ctx.tracer.span(f"spatial.{q}") as a:
                t0 = time.perf_counter()
                n_rows, ok = getattr(self, q)()
                self.per_query[q].append(time.perf_counter() - t0)
                a["rows"] = n_rows
            self.rows[q].append(n_rows)
            failed += not ok
        wall = time.perf_counter() - t_round
        return CallResult(
            items=len(QUERIES), wall_s=wall, latencies=[wall],
            attempted=len(QUERIES), failed=failed,
        )

    def layers(self) -> dict[str, float]:
        out = {}
        for q in QUERIES:
            out[f"spatial.{q}_s"] = median(self.per_query[q])
            out[f"spatial.{q}.output_rows"] = median(self.rows[q])
        out["spatial.pip.hits_per_point"] = len(self.pip_truth) / len(self.lat)
        out.update(self.common_layers(self.lat, self.lon))
        return out


WORKLOADS = {w.name: w for w in (CrawlJob, StreamIngest, SpatialQueries)}
