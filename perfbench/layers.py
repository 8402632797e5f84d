"""Per-layer measurements made only in traced runs: prefix
materializations of the pages pipeline through the noop sink, and
in-process calls of single layer functions on fixed samples."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harness import Tracer, median


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def pages_prefixes(tracer: Tracer, pages: DataFrame, index) -> dict[str, float]:
    """Self time of each layer of the batch pages pipeline, as the
    difference between successive prefixes materialized through the noop
    sink: read -> latest_snapshot -> address extraction -> partition-local
    kernel -> S2/H3 tiling UDF."""
    from nominatimwrapper_spark.functions.geo import s2_h3_cells_udf
    from nominatimwrapper_spark.operators.geocode_kernel import geocode_and_tile_kernel
    from nominatimwrapper_spark.operators.pages import pages_to_addresses
    from nominatimwrapper_spark.operators.spatial import latest_snapshot

    snap = latest_snapshot(pages, "url", "warc_ts")
    addrs = pages_to_addresses(snap, dedup_crawls=False)
    tiled = geocode_and_tile_kernel(snap, index)
    cells = s2_h3_cells_udf(13, 9)(
        F.col("lat_1e6") / F.lit(1e6), F.col("lon_1e6") / F.lit(1e6)
    )
    chain = [
        ("sources.read", pages),
        ("snapshot", snap),
        ("pages.extract", addrs),
        ("geocode_kernel", tiled),
        ("tiling.udf", tiled.withColumn("_cells", cells)),
    ]
    out: dict[str, float] = {}
    prev = 0.0
    with tracer.span("layers.prefixes"):
        for name, df in chain:
            with tracer.span(name) as a:
                t0 = time.perf_counter()
                noop(df)
                a["cumulative_s"] = time.perf_counter() - t0
            out[f"{name}_s"] = a["cumulative_s"] - prev
            prev = a["cumulative_s"]
        n_rows = pages.count()
        n_pages = snap.count()
        n_addrs = addrs.count()
    out["snapshot.rows_kept_frac"] = n_pages / n_rows
    out["pages.addrs_per_page"] = n_addrs / n_pages
    return {
        "sources.read_s": out["sources.read_s"],
        "snapshot.s": out["snapshot_s"],
        "snapshot.rows_kept_frac": out["snapshot.rows_kept_frac"],
        "pages.extract_s": out["pages.extract_s"],
        "pages.addrs_per_page": out["pages.addrs_per_page"],
        "geocode_kernel.s": out["geocode_kernel_s"],
        "tiling.udf_s": out["tiling.udf_s"],
    }


def _rate(fn, n: int, min_s: float = 0.3) -> float:
    """Items per second of ``fn`` (which handles ``n`` items), repeated
    until ``min_s`` has passed; median over the repeats."""
    rates = []
    t_end = time.perf_counter() + min_s
    while not rates or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(n / (time.perf_counter() - t0))
    return float(np.median(rates))


def probes(tracer: Tracer, html: list[bytes], addr: pd.DataFrame, index,
           lat: np.ndarray, lon: np.ndarray) -> dict[str, float]:
    """In-process throughput of single layer functions on fixed samples:
    the frozen text extractor, the partition-local cascade kernel, and
    the H3 / S2 cell functions."""
    from nominatimwrapper_spark.functions import s2
    from nominatimwrapper_spark.functions.h3 import latlng_to_cell
    from nominatimwrapper_spark.functions.text import extract_text
    from nominatimwrapper_spark.operators.geocode_kernel import (
        build_kernel_payload,
        cascade_kernel,
    )

    out = {}
    with tracer.span("text.extract_text"):
        out["text.extract_pages_per_s"] = _rate(lambda: [extract_text(h) for h in html], len(html))
    with tracer.span("geocode_kernel.cascade_kernel"):
        pay = build_kernel_payload(index)
        out["geocode_kernel.rows_per_s"] = _rate(lambda: cascade_kernel(addr, pay), len(addr))
    with tracer.span("h3.latlng_to_cell"):
        out["h3.cells_per_s"] = _rate(lambda: latlng_to_cell(lat, lon, 9), len(lat))
    with tracer.span("s2.lat_lon_to_leaf_id"):
        out["s2.cells_per_s"] = _rate(
            lambda: s2.parent_cell(s2.lat_lon_to_leaf_id(lat, lon), 13), len(lat)
        )
    return out


def kernel_sample(pool: pd.DataFrame, n: int, rng: np.random.Generator) -> pd.DataFrame:
    """``n`` structured addresses (the kernel's ADDR_COLS) drawn from the
    address pool, as page extraction would produce them."""
    j = rng.integers(0, len(pool), size=n)
    p = pool.iloc[j].reset_index(drop=True)
    return pd.DataFrame(
        {
            "addr_key": [f"k{i}" for i in range(n)],
            "street": p.name_fr.to_numpy(),
            "housenbr": p.house_number.to_numpy(),
            "postcode": p.post_code.to_numpy(),
            "city": p.city.to_numpy(),
            "country": "",
        }
    )


def index_build(tracer: Tracer, spark, gaz_path: str) -> tuple[float, object]:
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index

    with tracer.span("geocode.build_gazetteer_index"):
        t0 = time.perf_counter()
        index = build_gazetteer_index(spark.read.parquet(gaz_path))
        return time.perf_counter() - t0, index


def run_stream(spark, in_dir: str, index, out: str) -> list[dict]:
    """One ``availableNow`` stream over ``in_dir`` to completion; returns
    its per-micro-batch progress."""
    from nominatimwrapper_spark.streaming.geocode_stream import geocode_pages_stream

    q = geocode_pages_stream(
        spark, in_dir, index, os.path.join(out, "data"), os.path.join(out, "ck")
    )
    q.awaitTermination()
    return q.recentProgress


def dropped_duplicates(progress: list[dict]) -> int:
    return sum(
        p["stateOperators"][0]["customMetrics"].get("numDroppedDuplicateRows", 0)
        for p in progress
    )


def streaming(progress: list[dict], n_streams: int) -> dict[str, float]:
    """Micro-batch phase times (p50 over batches), dedup state size and
    rows dropped per stream."""

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in progress])

    return {
        "streaming.trigger_ms": p50("triggerExecution"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.commit_ms": p50("commitOffsets"),
        "streaming.latest_offset_ms": p50("latestOffset"),
        "streaming.state_rows_total": max(
            p["stateOperators"][0]["numRowsTotal"] for p in progress
        ),
        "streaming.dup_rows_dropped": dropped_duplicates(progress) / n_streams,
    }
