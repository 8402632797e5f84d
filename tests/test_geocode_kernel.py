# -*- coding: utf-8 -*-
"""Partition-local kernel parity: the single-stage mapInPandas lifecycle
(operators/geocode_kernel.py) must be value-identical to the distributed
cascade on every engineered fixture class — transformer ladder, parent
rescue, low-rank retry, similarity scores, tie-breaks, tiling, dtypes."""

from __future__ import annotations

import pandas as pd
import pytest

from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
from nominatimwrapper_spark.operators.geocode_kernel import (
    build_kernel_payload,
    cascade_kernel,
    geocode_and_tile_kernel,
)
from nominatimwrapper_spark.synth import gen_world, write_world

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    w = gen_world(n_streets=120, houses_per_street=6, n_pages=50, n_per_class=6)
    d = tmp_path_factory.mktemp("kernel_world")
    write_world(str(d), w)
    w["_dir"] = str(d)
    return w


@pytest.fixture(scope="module")
def index(spark, world):
    return build_gazetteer_index(spark.read.parquet(f"{world['_dir']}/gazetteer.parquet"))


@pytest.fixture(scope="module")
def fixture_addrs(world) -> pd.DataFrame:
    return world["addresses"].rename(
        columns=dict(
            referenceKey="addr_key", streetName="street", houseNumber="housenbr",
            postCode="postcode", postName="city", countryName="country",
        )
    )[["addr_key", "street", "housenbr", "postcode", "city", "country"]]


CMP_COLS = [
    "addr_key", "method", "place_id", "place_rank", "lat", "lon",
    "transformed_address", "match_on_cleansed_house_number",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code",
    "sim_city", "out_street_name", "out_post_name", "out_house_number",
    "out_post_code", "osm_order", "street", "housenbr", "postcode", "city",
]


def test_cascade_kernel_matches_distributed_on_all_fixture_classes(
    spark, index, fixture_addrs
):
    """Every fixture class (orig/regex/libpostal/photon/nonum/nostreet/
    retry26/alt-rescue) resolves to the SAME method, place, coordinates,
    similarity scores and reported composed address on both engines."""
    exp, _ = cascade(spark.createDataFrame(fixture_addrs), index, check_results=True)
    exp = exp.toPandas()
    got = cascade_kernel(
        fixture_addrs.copy(), build_kernel_payload(index), check_results=True
    )
    assert len(exp) == len(got)
    e = exp[CMP_COLS].sort_values("addr_key").reset_index(drop=True)
    g = got[CMP_COLS].sort_values("addr_key").reset_index(drop=True)
    for c in ("place_id", "place_rank", "osm_order"):
        e[c] = e[c].astype("int64")
        g[c] = g[c].astype("int64")
    pd.testing.assert_frame_equal(e, g, check_dtype=False)


def test_pages_kernel_matches_distributed_pipeline(spark):
    """pages -> extract -> cascade -> tiles: the one-stage kernel equals
    plans/flagship.geocode_and_tile row-for-row INCLUDING dtypes (the
    sha256-pinned flagship output transitively pins the kernel), and so
    does geocode_pages on either side of the broadcast gate."""
    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        geocode_and_tile,
        geocode_pages,
        pages_from_documents,
    )

    idx = gazetteer_index(spark)
    pages = pages_from_documents(spark, SF_DIR).localCheckpoint(eager=True)
    exp = geocode_and_tile(pages, idx).toPandas()
    exp = exp.sort_values("addr_key").reset_index(drop=True)
    for got in (
        geocode_and_tile_kernel(pages, idx),
        geocode_pages(pages, idx),
        geocode_pages(pages, gazetteer_index(spark, force_no_broadcast=True)),
    ):
        got = got.toPandas()
        pd.testing.assert_frame_equal(
            exp, got[exp.columns].sort_values("addr_key").reset_index(drop=True)
        )


def test_kernel_single_job_no_shuffle(spark):
    """The kernel plan is ONE narrow mapInPandas stage: no Exchange beyond
    the (optional) input-widening round-robin, no joins, no windows."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, pages_from_documents

    idx = gazetteer_index(spark)
    pages = pages_from_documents(spark, SF_DIR).localCheckpoint(eager=True)
    plan = geocode_and_tile_kernel(pages, idx)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Window", "HashAggregate"):
        assert node not in plan, f"unexpected {node} in kernel plan:\n{plan}"


def test_kernel_refuses_oversized_gazetteer(spark, world):
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    big = build_gazetteer_index(gaz, broadcast_max_bytes=0)
    with pytest.raises(ValueError, match="broadcast"):
        build_kernel_payload(big)


def test_kernel_empty_and_addressless_pages(spark, index):
    """Pages with no extractable address (and empty partitions) produce an
    empty result with the exact output schema."""
    pdf = pd.DataFrame(
        {
            "url": ["doc://empty"],
            "warc_ts": [pd.Timestamp("2025-03-01")],
            "html": [b"<html><body><p>no address here</p></body></html>"],
            "text": ["no address here"],
            "lang": ["fr"],
        }
    )
    pages = spark.createDataFrame(pdf)
    out = geocode_and_tile_kernel(pages, index)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "addr_key", "url", "method", "place_id", "place_rank",
        "cell13", "h3_9", "lat_1e6", "lon_1e6",
    ]
