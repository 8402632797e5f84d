# -*- coding: utf-8 -*-
"""Production entry point: geocode + tile a partitioned pages table,
resumable per crawl-date partition (north_rule job shape).

    spark-submit --py-files nominatimwrapper_spark.zip \\
        nominatimwrapper_spark/jobs/geocode_job.py \\
        --pages /data/pages --gazetteer /data/gazetteer.parquet \\
        --out /data/geocoded [--date-from 2025-03-01] [--date-to ...]

Each crawl_date partition runs independently through the S7
PartitionedCheckpointer: output lands as ``out/part=<date>/data`` +
``_manifest.json`` (row counts, input fingerprint, wall time, engine
version). A rerun skips completed partitions whose input fingerprint is
unchanged — a killed job resumes with zero recomputation (the manifest
write is atomic). The master comes from spark-submit (get_spark defers
when ``SPARK_MASTER``/submit config is present).

Reference parity: this is the batch lifecycle of SURVEY.md §3.4 — the
wrapper's process_addresses loop (utils.py:1195-1279) lifted to one
checkpointed unit of work per Iceberg-style partition.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# spark-submit executes this file as __main__ with no package context, so
# relative imports would die with "no known parent package". Absolute imports
# + a repo-root sys.path bootstrap work under all three launch modes:
# `spark-submit path/to/geocode_job.py`, `spark-submit --py-files pkg.zip`,
# and `python -m nominatimwrapper_spark.jobs.geocode_job`.
if __package__ in (None, ""):  # file run directly (spark-submit / python file.py)
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )

from nominatimwrapper_spark.operators.geocode import build_gazetteer_index
from nominatimwrapper_spark.operators.spatial import latest_snapshot
from nominatimwrapper_spark.plans.flagship import geocode_pages
from nominatimwrapper_spark.sources.checkpoint import PartitionedCheckpointer

# partition jobs run side by side from a driver thread pool (guide §2.6:
# enough to back-fill each job's tail, not enough to thrash; measured on
# the 8-partition bench layout: 4-part leg 13.7s at 1 -> 10.0s at 3,
# resume leg 11.8s -> 8.8s)
_CONCURRENCY = 3

# the directory write_pages_partitioned gives pages with a null warc_ts
_NULL_DATE = "__HIVE_DEFAULT_PARTITION__"


def list_crawl_dates(pages_path: str) -> list[str]:
    """crawl_date partition values from the table layout. Local-FS listing;
    on a cluster the same names come from the catalog / FileSystem API."""
    return sorted(
        d[len("crawl_date="):]
        for d in os.listdir(pages_path)
        if d.startswith("crawl_date=")
    )


def _files_signature(path: str) -> bytes:
    """(name, size) of every file in a dir — or the size of one file — as
    the bytes the input fingerprints hash."""
    if os.path.isdir(path):
        sig = b""
        for f in sorted(os.listdir(path)):
            fp = os.path.join(path, f)
            sig += f.encode()
            if os.path.isfile(fp):
                sig += str(os.path.getsize(fp)).encode()
        return sig
    if os.path.exists(path):
        return str(os.path.getsize(path)).encode()
    return b""


def _digest(sig: bytes) -> str:
    return hashlib.sha256(sig).hexdigest()[:16]


def partition_fingerprint(pages_path: str, part: str, gazetteer_sig: bytes) -> str:
    """Cheap input fingerprint: hash of (name, size) of every data file in
    the partition dir AND of the gazetteer (``gazetteer_sig``, its
    ``_files_signature``) — the gazetteer is an input to the computation
    too, so a refreshed OSM extract invalidates every partition's
    checkpoint instead of silently serving stale geocodes."""
    return _digest(
        _files_signature(os.path.join(pages_path, f"crawl_date={part}")) + gazetteer_sig
    )


# derived gazetteer index per (session, gazetteer content fingerprint) —
# the same session-scoped memo flagship.gazetteer_index keeps: a resumed /
# repeated run_job over an UNCHANGED gazetteer reuses the lookup build
# (UDF key projections + cache + size estimate) instead of re-deriving it;
# any content change (new file set / sizes) misses the key and rebuilds.
_INDEX_CACHE: dict[tuple, object] = {}


def _gazetteer_index_cached(spark: SparkSession, gazetteer_path: str, gazetteer_sig: bytes):
    key = (id(spark), os.path.abspath(gazetteer_path), _digest(gazetteer_sig))
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build_gazetteer_index(spark.read.parquet(gazetteer_path))
    return _INDEX_CACHE[key]


def run_job(
    spark: SparkSession,
    pages_path: str,
    gazetteer_path: str,
    out_dir: str,
    date_from: str | None = None,
    date_to: str | None = None,
) -> dict:
    """Run (or resume) the job; returns {partition: manifest}.

    Each partition is read through its own directory, recrawl-deduplicated
    (latest crawl per url wins) and geocoded by geocode_pages. Pages with a
    null warc_ts form their own partition, selected only when no date
    bound is given."""
    gazetteer_sig = _files_signature(gazetteer_path)
    index = _gazetteer_index_cached(spark, gazetteer_path, gazetteer_sig)
    bounded = date_from is not None or date_to is not None
    parts = [
        p for p in list_crawl_dates(pages_path)
        if not (bounded and p == _NULL_DATE)
        and (date_from is None or p >= date_from)
        and (date_to is None or p <= date_to)
    ]

    def compute(part: str):
        pages = spark.read.option("basePath", pages_path).parquet(
            os.path.join(pages_path, f"crawl_date={part}")
        )
        return geocode_pages(latest_snapshot(pages, "url", "warc_ts"), index)

    ck = PartitionedCheckpointer(out_dir)
    return ck.run(
        parts,
        compute=compute,
        input_fingerprint=lambda p: partition_fingerprint(pages_path, p, gazetteer_sig),
        # the checkpointer hands this the WRITTEN parquet read back — a
        # cheap columnar scan, never a re-execution of the geocode plan
        stats=lambda df: {
            "methods": {
                r["method"]: r["n"]
                for r in df.groupBy("method").agg(F.count("*").alias("n")).collect()
            }
        },
        max_concurrent=_CONCURRENCY,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--gazetteer", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--date-from", default=None)
    ap.add_argument("--date-to", default=None)
    args = ap.parse_args()

    from nominatimwrapper_spark.session import get_spark

    spark = get_spark(master=None)  # defer to spark-submit
    manifests = run_job(
        spark, args.pages, args.gazetteer, args.out, args.date_from, args.date_to
    )
    done = sum(1 for m in manifests.values() if not m.get("resumed"))
    skipped = len(manifests) - done
    rows = sum(m.get("rows_out", 0) for m in manifests.values())
    print(f"partitions computed={done} resumed={skipped} rows_out={rows}")
    spark.stop()


if __name__ == "__main__":
    main()
