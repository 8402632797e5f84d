#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Extra benchmarks / phase isolation for the optimization round (guide
§1.4: noop-sink isolation per phase; bench.py itself is frozen for
measurement). Each phase is labeled via setJobDescription and timed
through the noop sink.

Usage: bench_extra.py [minhash|flagship|small] ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    fn()
    dt = round(time.time() - t0, 2)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {dt}s", flush=True)
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    which = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "20g")

    from nominatimwrapper_spark.session import get_spark

    n_shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "128"))
    spark = get_spark(master=f"local[{cpus}]", app_name=f"nwspark-bench-extra-{which}",
                      shuffle_partitions=n_shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {"loadavg_before": round(os.getloadavg()[0], 2)}

    if which == "minhash":
        from nominatimwrapper_spark.operators.dedup import (
            banded_signatures,
            minhash_dedup,
            minhash_lsh_candidates,
            minhash_signatures_agg,
            minhash_verified_pairs,
        )
        from nominatimwrapper_spark.plans.flagship import documents_scaled

        factor = int(os.environ.get("SPARK_GRAFT_DEDUP_FACTOR", "200"))
        docs = documents_scaled(spark, sf_dir, factor).localCheckpoint(eager=True)
        n = docs.count()
        print(f"corpus: {n} docs", flush=True)
        # warm one small pass (codegen/python workers)
        noop(docs.limit(1000))
        out["sig_agg"] = timed(spark, "minhash: signatures agg",
                               lambda: noop(minhash_signatures_agg(docs)))
        out["banded"] = timed(spark, "minhash: banded signatures",
                              lambda: noop(banded_signatures(docs)))
        out["candidates"] = timed(spark, "minhash: lsh candidates",
                                  lambda: noop(minhash_lsh_candidates(docs)))
        out["verified"] = timed(spark, "minhash: verified pairs",
                                lambda: noop(minhash_verified_pairs(docs)))
        out["full_dedup"] = timed(spark, "minhash: full dedup (cc)",
                                  lambda: noop(minhash_dedup(docs)))

    elif which == "flagship":
        from pyspark.sql import functions as F

        from nominatimwrapper_spark.functions import geo
        from nominatimwrapper_spark.operators.geocode import cascade
        from nominatimwrapper_spark.operators.pages import pages_to_addresses
        from nominatimwrapper_spark.plans.flagship import (
            flagship,
            gazetteer_index,
            pages_from_documents,
        )

        rep = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_REPLICATE", "400"))
        flagship(spark, sf_dir, replicate=1).write.format("noop").mode("overwrite").save()
        index = gazetteer_index(spark)

        # phase 1: pages build WITHOUT extraction (html only)
        pages = pages_from_documents(spark, sf_dir, replicate=rep)
        out["pages_html_only"] = timed(
            spark, "flagship: pages html only",
            lambda: noop(pages.select("url", "warc_ts", "html")),
        )
        # phase 2: pages + address extraction (fused html->addresses)
        addrs = pages_to_addresses(pages, dedup_crawls=False)
        out["pages_to_addresses"] = timed(
            spark, "flagship: pages->addresses", lambda: noop(addrs)
        )
        # phase 3: full cascade from checkpointed addrs
        spark.sparkContext.setJobDescription("flagship: checkpoint addrs")
        t0 = time.time()
        addrs_ck = addrs.localCheckpoint(eager=True)
        out["addrs_checkpoint_total"] = round(time.time() - t0, 2)
        print(f"  addrs checkpoint (incl extraction): {out['addrs_checkpoint_total']}s",
              flush=True)

        def run_cascade():
            res, _ = cascade(addrs_ck, index, with_rejected=False,
                             validate_unique=False, with_extra_house_number=False)
            noop(res)

        out["cascade_from_ck"] = timed(spark, "flagship: cascade", run_cascade)

        def run_cells():
            res, _ = cascade(addrs_ck, index, with_rejected=False,
                             validate_unique=False, with_extra_house_number=False)
            cells = geo.s2_h3_cells_udf(13, 9)(F.col("lat"), F.col("lon"))
            noop(res.withColumn("_c", cells).select("addr_key", "_c.s2", "_c.h3"))

        out["cascade_plus_cells"] = timed(spark, "flagship: cascade+cells", run_cells)
        out["full_flagship"] = timed(
            spark, "flagship: full", lambda: noop(flagship(spark, sf_dir, replicate=rep))
        )

    elif which == "lifecycle":
        # mirrors bench.py's checkpoint/streaming section so the job legs
        # can be isolated + A/B'd
        import glob as _glob
        import shutil as _shutil
        import tempfile as _tempfile

        from pyspark.sql import functions as SF

        from nominatimwrapper_spark.jobs.geocode_job import run_job
        from nominatimwrapper_spark.plans.flagship import (
            flagship,
            gazetteer_index,
            pages_from_documents,
            world_dir,
        )
        from nominatimwrapper_spark.sources.pages_io import write_pages_partitioned
        from nominatimwrapper_spark.streaming.geocode_stream import geocode_pages_stream

        flagship(spark, sf_dir, replicate=1).write.format("noop").mode("overwrite").save()
        from nominatimwrapper_spark.operators.geocode_kernel import geocode_and_tile_kernel

        geocode_and_tile_kernel(
            pages_from_documents(spark, sf_dir, replicate=1), gazetteer_index(spark)
        ).write.format("noop").mode("overwrite").save()

        life_dir = _tempfile.mkdtemp(prefix="nwspark_bx_life_")
        try:
            rep_life = int(os.environ.get("SPARK_GRAFT_LIFECYCLE_REPLICATE", "8"))
            pages = pages_from_documents(spark, sf_dir, replicate=rep_life)
            pages8 = pages.withColumn(
                "warc_ts",
                SF.lit("2025-03-01 00:00:00").cast("timestamp")
                + SF.make_interval(days=SF.crc32("url") % 8),
            )
            pages_dir = os.path.join(life_dir, "pages")
            write_pages_partitioned(pages8, pages_dir)
            gaz_path = f"{world_dir()}/gazetteer.parquet"
            out_a = os.path.join(life_dir, "job_out")
            dates = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(pages_dir)
                if d.startswith("crawl_date=")
            )
            out["checkpoint_job_4parts"] = timed(
                spark, "lifecycle: job 4 parts",
                lambda: run_job(spark, pages_dir, gaz_path, out_a, date_to=dates[3]),
            )
            out["checkpoint_resume_8parts"] = timed(
                spark, "lifecycle: resume 8 parts",
                lambda: run_job(spark, pages_dir, gaz_path, out_a),
            )
            stream_in = os.path.join(life_dir, "stream_in")
            os.makedirs(stream_in)
            stage = os.path.join(life_dir, "_stage")
            for b in range(8):
                part = pages8.filter(SF.crc32("url") % 8 == b)
                part.coalesce(1).write.mode("overwrite").parquet(stage)
                src = _glob.glob(f"{stage}/part-*.parquet")[0]
                _shutil.move(src, os.path.join(stream_in, f"{b:03d}.parquet"))
            index = gazetteer_index(spark)
            spark.conf.set("spark.sql.shuffle.partitions", "8")

            def run_stream():
                q = geocode_pages_stream(
                    spark, stream_in, index,
                    os.path.join(life_dir, "stream_out"),
                    os.path.join(life_dir, "stream_ck"),
                )
                q.awaitTermination()

            out["streaming_flagship_8batches"] = timed(
                spark, "lifecycle: streaming 8 batches", run_stream
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        finally:
            _shutil.rmtree(life_dir, ignore_errors=True)

    elif which == "kernel":
        from nominatimwrapper_spark.operators.geocode_kernel import geocode_and_tile_kernel
        from nominatimwrapper_spark.plans.flagship import (
            flagship,
            gazetteer_index,
            pages_from_documents,
        )

        rep = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_REPLICATE", "400"))
        flagship(spark, sf_dir, replicate=1).write.format("noop").mode("overwrite").save()
        geocode_and_tile_kernel(
            pages_from_documents(spark, sf_dir, replicate=1), gazetteer_index(spark)
        ).write.format("noop").mode("overwrite").save()
        out["kernel_2m"] = timed(
            spark, "kernel: 2M pages",
            lambda: noop(
                geocode_and_tile_kernel(
                    pages_from_documents(spark, sf_dir, replicate=rep),
                    gazetteer_index(spark),
                )
            ),
        )
        out["skew30_2m"] = timed(
            spark, "skew30: 2M pages",
            lambda: noop(flagship(spark, sf_dir, replicate=rep, skew_hot=0.3)),
        )

    elif which == "recall":
        # ADVICE r5: bench.py's 64 midpoint probes all derive from replicas
        # of base vector 0 (vec_id < 128 = base 0's replica block), so
        # recall@10 = 1.0 was trivially guaranteed. Here: probes pair
        # DISTINCT base vectors spread across the corpus + far-tail
        # perturbed probes + random unit vectors, and recall is reported
        # as a curve over nprobe / bands so the knobs have measured
        # tradeoffs. Metrics-only; bench.py's frozen numbers unchanged.
        import numpy as np
        from pyspark.sql import functions as SF

        from nominatimwrapper_spark.operators.simsearch import (
            cosine_topk_bruteforce,
            cosine_topk_ivf,
            cosine_topk_lsh,
            train_ivf_centroids,
        )
        from nominatimwrapper_spark.plans.flagship import embeddings_scaled

        factor = int(os.environ.get("SPARK_GRAFT_DEDUP_FACTOR", "200"))
        e = embeddings_scaled(spark, sf_dir, factor).localCheckpoint(eager=True)
        n_vec = e.count()
        print(f"corpus: {n_vec} vectors", flush=True)
        base = e.filter(SF.col("vec_id") % factor == 0).limit(4000).toPandas()
        dim = len(base["embedding"].iloc[0])
        rng = np.random.default_rng(11)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in base["embedding"]])
        n_p = 64
        idx_a = rng.choice(len(mat), n_p, replace=False)
        idx_b = rng.choice(len(mat), n_p, replace=False)
        probes_np = []
        # (a) midpoints of DISTINCT base vectors across the corpus
        probes_np.append((mat[idx_a] + mat[idx_b]) / 2.0)
        # (b) far-tail perturbations (sigma 10x the replica ripple)
        probes_np.append(mat[idx_a] + rng.normal(0, 0.1, (n_p, dim)))
        # (c) random unit vectors (adversarial: no corpus structure)
        r = rng.standard_normal((n_p, dim))
        probes_np.append(r / np.linalg.norm(r, axis=1, keepdims=True))
        kinds = ["midpoint_distinct", "far_tail", "random_unit"]
        import pandas as pd

        probes_pdf = pd.DataFrame(
            {
                "probe_id": range(3 * n_p),
                "kind": [k for k in kinds for _ in range(n_p)],
                "embedding": [row.astype(np.float32).tolist() for block in probes_np for row in block],
            }
        )
        probes = spark.createDataFrame(probes_pdf[["probe_id", "embedding"]])
        kind_of = dict(zip(probes_pdf["probe_id"], probes_pdf["kind"]))

        def topsets(df):
            pdf = df.select("probe_id", "vec_id").toPandas()
            return {p: set(g["vec_id"]) for p, g in pdf.groupby("probe_id")}

        brute = topsets(cosine_topk_bruteforce(e, probes, k=10))
        cents = train_ivf_centroids(e, 128)

        def recall_by_kind(approx):
            out_k = {}
            for k in kinds:
                ps = [p for p in brute if kind_of[p] == k]
                out_k[k] = round(
                    sum(len(brute[p] & approx.get(p, set())) for p in ps)
                    / (10.0 * len(ps)), 3,
                )
            return out_k

        curve = {}
        for bands in (8, 16, 32):
            lsh = topsets(cosine_topk_lsh(e, probes, k=10, bands=bands, bits=64))
            curve[f"lsh_bands{bands}"] = recall_by_kind(lsh)
            print(f"lsh bands={bands}: {curve[f'lsh_bands{bands}']}", flush=True)
        for nprobe in (4, 8, 16, 32):
            ivf = topsets(
                cosine_topk_ivf(e, probes, k=10, n_centroids=128, nprobe=nprobe,
                                centroids=cents)
            )
            curve[f"ivf_c128_np{nprobe}"] = recall_by_kind(ivf)
            print(f"ivf nprobe={nprobe}: {curve[f'ivf_c128_np{nprobe}']}", flush=True)
        out["recall_curve"] = curve

    elif which == "small":
        import __spark_entry__ as em

        qs = dict(em.queries())
        names = sys.argv[2:] or [
            "top1_per_group", "broadcast_join_agg", "asof_latest", "grid_rollup",
            "s2_rollup", "h3_rollup", "knn_topk", "cosine_topk", "dedup_exact",
            "minhash_lsh", "token_stats", "simhash_near_dups",
        ]
        for name in names:
            noop(qs[name](spark, sf_dir))  # warm
            out[name] = timed(spark, f"small: {name}", lambda n=name: noop(qs[n](spark, sf_dir)))

    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps({"which": which, "cpus": int(cpus), **out}))
    spark.stop()


if __name__ == "__main__":
    main()
