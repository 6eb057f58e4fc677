"""The 100 TB ingestion path end-to-end: STAC catalog at rest (parquet)
→ parse_items (DataFrame transform) → plan_load_df (distributed planning
aggregations, only elections collected) → sources_from_parsed (broadcast
key-map join) → load_from_sources (tile pipeline). Pixels must equal the
driver-list path on the same logical items."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pytest

from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
from odc_stac_spark.plans.catalog import (
    load_from_catalog,
    plan_load_df,
    sources_from_parsed,
)
from odc_stac_spark.plans.load import Item, assemble_numpy, load
from odc_stac_spark.sources.stac_items import items_df, parse_items

COG = "image/tiff; application=geotiff; profile=cloud-optimized"
T0 = datetime(2020, 6, 6, 8, 30)
EPSG = 32735


def synth_asset(name, seed, origin, shape=(100, 120), res=10.0, dtype="int32", nodata=-1.0):
    return {
        "href": f"synth://{name}{seed}?seed={seed}&nodata_every=4",
        "type": COG,
        "roles": ["data"],
        "gsd": res,
        "proj_shape": list(shape),
        "proj_transform": [res, 0.0, origin[0], 0.0, -res, origin[1]],
        "proj_epsg": EPSG,
        "eo_bands": [{"name": name, "common_name": None}],
        "raster_bands": [{"data_type": dtype, "nodata": nodata, "unit": "1"}],
    }


def catalog_item(idx, origin, ts=None):
    return {
        "id": f"cat-{idx:03d}",
        "collection": "synth-col",
        "odc_product": None,
        "datetime": ts or (T0 + timedelta(hours=idx)),
        "start_datetime": None,
        "end_datetime": None,
        "href": None,
        "bbox": None,
        "assets": {
            "red": synth_asset("red", idx, origin),
            "nir": synth_asset("nir", 100 + idx, origin),
        },
        "properties": {},
    }


def equivalent_items(n, origins):
    out = []
    for i, origin in enumerate(origins):
        gbox = GeoBox((100, 120), (10.0, 0.0, origin[0], 0.0, -10.0, origin[1]), f"EPSG:{EPSG}")
        out.append(
            Item(
                id=f"cat-{i:03d}",
                datetime=T0 + timedelta(hours=i),
                bands={
                    "red": RasterSource(
                        f"synth://red{i}?seed={i}&nodata_every=4",
                        geobox=gbox,
                        meta=RasterBandMetadata("int32", -1.0),
                    ),
                    "nir": RasterSource(
                        f"synth://nir{100 + i}?seed={100 + i}&nodata_every=4",
                        geobox=gbox,
                        meta=RasterBandMetadata("int32", -1.0),
                    ),
                },
            )
        )
    return out


@pytest.fixture()
def parsed_catalog(spark, tmp_path):
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    raw = items_df(spark, [catalog_item(i, o) for i, o in enumerate(origins)])
    # catalog at rest: parquet roundtrip (STAC-geoparquet analog)
    path = str(tmp_path / "catalog.parquet")
    raw.write.parquet(path)
    return parse_items(spark, spark.read.parquet(path)), origins


def test_plan_from_catalog_matches_list_plan(spark, parsed_catalog):
    parsed, origins = parsed_catalog
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(48, 48))
    assert plan.bands == ["nir", "red"]
    assert plan.gbox.crs == f"EPSG:{EPSG}"
    assert plan.gbox.resolution == (10.0, -10.0)
    # bbox union of the three offset grids: x [0, 1600], y [-200, 1200]
    assert plan.gbox.bbox() == (0.0, -200.0, 1600.0, 1200.0)
    assert len(plan.group_keys) == 3  # one group per distinct timestamp
    assert plan.group_ts == [T0 + timedelta(hours=i) for i in range(3)]


def test_catalog_pixels_equal_list_path(spark, parsed_catalog):
    parsed, origins = parsed_catalog
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="time", chunks=(64, 64))
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    tiles2, plan2 = load(spark, items, groupby="time", chunks=(64, 64))
    want = assemble_numpy(tiles2, plan2)

    assert plan.gbox == plan2.gbox
    assert set(got) == set(want) == {"red", "nir"}
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_groupby_property_catalog_equals_list_path(spark, tmp_path):
    """groupby=<property name> (reference _groupby_property,
    _stac_load.py:515-535): both paths key off the raw STAC properties
    map and must produce identical pixels; items missing the property
    share one group."""
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    docs = [catalog_item(i, o) for i, o in enumerate(origins)]
    docs[0]["properties"] = {"platform": "sat-b"}
    docs[1]["properties"] = {"platform": "sat-a"}
    docs[2]["properties"] = {}  # missing → None group
    raw = items_df(spark, docs)
    path = str(tmp_path / "cat.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))

    tiles_df, plan = load_from_catalog(spark, parsed, groupby="platform", chunks=(64, 64))
    # NULL key sorts first (Spark default) = list path's type-name sort
    assert plan.group_keys == [None, "sat-a", "sat-b"]
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    items[0].props = {"platform": "sat-b"}
    items[1].props = {"platform": "sat-a"}
    tiles2, plan2 = load(spark, items, groupby="platform", chunks=(64, 64))
    assert plan2.group_keys == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_solar_day_rejects_projected_catalog(spark, parsed_catalog):
    """solar_day needs geographic coords for the longitude offset — a UTM
    catalog must fail loudly, not bin by meters/15 'hours'."""
    parsed, _ = parsed_catalog  # grids are EPSG:32735
    with pytest.raises(ValueError, match="EPSG:4326"):
        plan_load_df(spark, parsed, groupby="solar_day")


def _utm_asset(name, seed, origin, shape=(100, 150), res=100.0):
    a = synth_asset(name, seed, origin, shape=shape, res=res)
    a["proj_transform"] = [res, 0.0, origin[0], 0.0, -res, origin[1]]
    return a


def test_cross_crs_catalog_equals_list_path(spark, tmp_path):
    """A catalog mixing UTM and WGS84 grids: the majority CRS is elected,
    foreign sources contribute reprojected footprints to the bbox union
    and bin onto the right tiles (densified-boundary transform per
    DISTINCT grid, broadcast back) — pixels equal the list path, which
    reprojects footprints driver-side."""
    t0 = T0
    utm_origins = [(400000.0, 8350000.0), (405000.0, 8348000.0)]
    docs = []
    for i, o in enumerate(utm_origins):
        d = catalog_item(i, o)
        d["assets"] = {"red": _utm_asset("red", i, o)}
        docs.append(d)
    # WGS84 item overlapping the same area (~26.1E..26.25E, 15.05S..14.95S)
    g = catalog_item(2, (26.1, -14.95))
    a = synth_asset("red", 2, (26.1, -14.95), shape=(100, 150), res=0.001)
    a["proj_transform"] = [0.001, 0.0, 26.1, 0.0, -0.001, -14.95]
    a["proj_epsg"] = 4326
    a["gsd"] = 0.001
    g["assets"] = {"red": a}
    docs.append(g)
    raw = items_df(spark, docs)
    path = str(tmp_path / "xcrs.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))

    tiles_df, plan = load_from_catalog(spark, parsed, groupby="time", chunks=(64, 64))
    assert plan.gbox.crs == f"EPSG:{EPSG}"  # majority vote: 2 UTM vs 1 geo
    got = assemble_numpy(tiles_df, plan)

    items = []
    for i, o in enumerate(utm_origins):
        gb = GeoBox((100, 150), (100.0, 0.0, o[0], 0.0, -100.0, o[1]), f"EPSG:{EPSG}")
        items.append(
            Item(
                id=f"cat-{i:03d}",
                datetime=t0 + __import__("datetime").timedelta(hours=i),
                bands={
                    "red": RasterSource(
                        f"synth://red{i}?seed={i}&nodata_every=4",
                        geobox=gb,
                        meta=RasterBandMetadata("int32", -1.0),
                    )
                },
            )
        )
    geo_gb = GeoBox((100, 150), (0.001, 0.0, 26.1, 0.0, -0.001, -14.95), "EPSG:4326")
    items.append(
        Item(
            id="cat-002",
            datetime=t0 + __import__("datetime").timedelta(hours=2),
            bands={
                "red": RasterSource(
                    "synth://red2?seed=2&nodata_every=4",
                    geobox=geo_gb,
                    meta=RasterBandMetadata("int32", -1.0),
                )
            },
        )
    )
    tiles2, plan2 = load(spark, items, groupby="time", chunks=(64, 64))
    assert plan.gbox == plan2.gbox
    want = assemble_numpy(tiles2, plan2)
    np.testing.assert_array_equal(got["red"], want["red"])
    # the foreign item actually contributed pixels (t=2 slice not all nodata)
    assert (got["red"][2] != -1).any()


def test_preserve_original_order_catalog(spark, tmp_path):
    """preserve_original_order on the catalog path: mosaic precedence
    follows the item_idx input-order column, matching the list path; a
    catalog without item_idx refuses loudly."""
    origins = [(0.0, 1000.0), (40.0, 980.0), (20.0, 990.0)]
    # identical timestamps → (ts, id) precedence can't distinguish;
    # reversed input order must flip the winner
    docs = [catalog_item(i, o, ts=T0) for i, o in enumerate(origins)]
    docs = docs[::-1]
    raw = items_df(spark, docs, with_idx=True)
    path = str(tmp_path / "ord.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))
    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby="time", chunks=(64, 64), preserve_original_order=True
    )
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    for it in items:
        it.datetime = T0
    items = items[::-1]
    tiles2, plan2 = load(
        spark, items, groupby="time", chunks=(64, 64), preserve_original_order=True
    )
    want = assemble_numpy(tiles2, plan2)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])

    plain = parse_items(spark, items_df(spark, docs))
    with pytest.raises(ValueError, match="item_idx"):
        load_from_catalog(
            spark, plain, groupby="time", chunks=(64, 64), preserve_original_order=True
        )


def test_sources_frame_never_collects_items(spark, parsed_catalog):
    """The bridge output is a plain DataFrame with the load_from_sources
    contract columns — no driver materialization of the item table."""
    parsed, _ = parsed_catalog
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(64, 64))
    src = sources_from_parsed(spark, parsed, plan, groupby="time")
    expect = {
        "item_idx", "item_id", "ts", "t", "band", "uri", "src_band",
        "g_ny", "g_nx", "g_sx", "g_x0", "g_sy", "g_y0", "g_crs",
        "dtype", "nodata", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax",
    }
    assert set(src.columns) == expect
    # 3 items x 2 bands
    assert src.count() == 6
    # group indices cover all 3 time groups
    assert {r.t for r in src.select("t").distinct().collect()} == {0, 1, 2}


def test_catalog_geopolygon_equals_list_path(spark, parsed_catalog):
    """P4 on the 100 TB path: geopolygon= drives the output grid AND
    prunes exploded tiles distributedly; pixels equal the list path."""
    from odc_stac_spark.functions.geom import Polygon

    tri = Polygon(
        [[(100.0, 0.0), (1500.0, 100.0), (200.0, 1100.0)]], crs=f"EPSG:{EPSG}"
    )
    parsed, origins = parsed_catalog
    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby="time", chunks=(48, 48), geopolygon=tri
    )
    assert plan.aoi is not None
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    tiles2, plan2 = load(
        spark, items, groupby="time", chunks=(48, 48), geopolygon=tri
    )
    want = assemble_numpy(tiles2, plan2)

    assert plan.gbox == plan2.gbox
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])

    # pruning really happened: corner tiles outside the ring never tasked
    keys = {(r["iy"], r["ix"]) for r in tiles_df.select("iy", "ix").collect()}
    all_tiles = set(plan.tiles.tiles_overlapping_bbox(plan.gbox.bbox()))
    assert keys < all_tiles
    for iy, ix in all_tiles - keys:
        assert not tri.intersects_bbox(plan.tiles.tile_geobox(iy, ix).bbox())


def test_groupby_callable_catalog_equals_list_path(spark, tmp_path):
    """U / round-4 verdict item 10: groupby= callables work on the CATALOG
    path (reference accepts them anywhere, _stac_load.py:525-535) — the
    same callback keys both paths and pixels must match. Keys are strings
    on the catalog path (they live in a join column), so the callback
    returns strings."""
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    docs = [catalog_item(i, o) for i, o in enumerate(origins)]
    docs[0]["properties"] = {"platform": "sat-b"}
    docs[1]["properties"] = {"platform": "sat-a"}
    docs[2]["properties"] = {"platform": "sat-a"}
    raw = items_df(spark, docs)
    path = str(tmp_path / "cat.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))

    def by_platform_and_parity(item, idx):
        # exercises props + datetime + id, ignores idx (None on catalog)
        return f"{item.props.get('platform')}-{item.datetime.hour % 2}-{item.id[:3]}"

    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby=by_platform_and_parity, chunks=(64, 64)
    )
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    items[0].props = {"platform": "sat-b"}
    items[1].props = {"platform": "sat-a"}
    items[2].props = {"platform": "sat-a"}
    tiles2, plan2 = load(spark, items, groupby=by_platform_and_parity, chunks=(64, 64))
    assert [str(k) for k in plan2.group_keys] == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    assert set(got) == set(want)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def _planning_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, #jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _cross_crs_parsed(spark, tmp_path):
    """Two UTM grids and one WGS84 grid over the same area (the catalog of
    test_cross_crs_catalog_equals_list_path)."""
    docs = []
    for i, o in enumerate([(400000.0, 8350000.0), (405000.0, 8348000.0)]):
        d = catalog_item(i, o)
        d["assets"] = {"red": _utm_asset("red", i, o)}
        docs.append(d)
    g = catalog_item(2, (26.1, -14.95))
    a = synth_asset("red", 2, (26.1, -14.95), shape=(100, 150), res=0.001)
    a["proj_epsg"] = 4326
    a["gsd"] = 0.001
    g["assets"] = {"red": a}
    docs.append(g)
    path = str(tmp_path / "xcrs.parquet")
    items_df(spark, docs).write.parquet(path)
    return parse_items(spark, spark.read.parquet(path))


def test_plan_is_one_aggregation_action(spark, parsed_catalog, tmp_path):
    """Band meta, the (crs, gsd) vote, the bbox union and the group keys
    come from one grouping-sets aggregation: one action (≤3 jobs under
    AQE). A cross-CRS catalog adds only the footprint bbox aggregation."""
    import pyspark.sql.functions as F

    from odc_stac_spark.plans.catalog import _with_footprints, _with_geom_cols

    parsed, _ = parsed_catalog
    plan, jobs = _planning_jobs(
        spark, lambda: plan_load_df(spark, parsed, groupby="time", chunks=(48, 48))
    )
    assert plan.gbox.bbox() == (0.0, -200.0, 1600.0, 1200.0)
    assert 1 <= jobs <= 3

    xparsed = _cross_crs_parsed(spark, tmp_path)
    xplan, xjobs = _planning_jobs(
        spark, lambda: plan_load_df(spark, xparsed, groupby="time", chunks=(64, 64))
    )
    assert xplan.gbox.crs == f"EPSG:{EPSG}"
    _, fp_jobs = _planning_jobs(
        spark,
        lambda: _with_footprints(_with_geom_cols(xparsed), xplan.gbox.crs)
        .agg(F.min("fp_xmin"), F.min("fp_ymin"), F.max("fp_xmax"), F.max("fp_ymax"))
        .first(),
    )
    assert jobs < xjobs <= 3 + fp_jobs


def test_sources_key_map_is_a_jvm_literal(spark, parsed_catalog):
    """The key→t map is a literal relation: no Python-RDD scan
    (``createDataFrame``) that would cost a Python-worker job per action."""
    parsed, _ = parsed_catalog
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(64, 64))
    qe = sources_from_parsed(spark, parsed, plan, groupby="time")._jdf.queryExecution()
    for text in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "ExistingRDD" not in text and "LogicalRDD" not in text
        assert "PythonRDD" not in text


def test_vote_tie_elects_finer_gsd_then_smaller_crs(spark, tmp_path):
    """Equal (crs, gsd) counts elect the smaller gsd, then the smaller crs
    — the list path's _elect_crs_res rule, as Spark's orderBy gave it."""
    from odc_stac_spark.plans.load import _elect_crs_res

    def plan_for(name, grids):
        docs = []
        for i, (epsg, res) in enumerate(grids):
            d = catalog_item(i, (0.0, 1000.0))
            a = synth_asset("red", i, (0.0, 1000.0), res=res)
            a["proj_epsg"] = epsg
            d["assets"] = {"red": a}
            docs.append(d)
        path = str(tmp_path / f"{name}.parquet")
        items_df(spark, docs).write.parquet(path)
        parsed = parse_items(spark, spark.read.parquet(path))
        # a fixed bbox isolates the vote from the footprint union
        plan = plan_load_df(spark, parsed, bbox=(0.0, 0.0, 400.0, 400.0))
        want = _elect_crs_res(
            [GeoBox((100, 120), (r, 0.0, 0.0, 0.0, -r, 1000.0), f"EPSG:{e}") for e, r in grids]
        )
        assert (plan.gbox.crs, plan.gbox.resolution[0]) == want
        return plan

    # one vote each for 20 m and 10 m → the finer gsd
    plan = plan_for("gsd_tie", [(32735, 20.0), (32735, 10.0)])
    assert plan.gbox.resolution == (10.0, -10.0)
    # one vote each, same gsd, two CRSes → the smaller crs string
    plan = plan_for("crs_tie", [(32735, 10.0), (32734, 10.0)])
    assert plan.gbox.crs == "EPSG:32734"
    # both differ: gsd decides before crs
    plan = plan_for("gsd_first", [(32734, 20.0), (32735, 10.0)])
    assert (plan.gbox.crs, plan.gbox.resolution) == ("EPSG:32735", (10.0, -10.0))


def _property_catalog(spark, tmp_path, platforms):
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    docs = [catalog_item(i, o) for i, o in enumerate(origins)]
    items = equivalent_items(3, origins)
    for d, it, p in zip(docs, items, platforms):
        d["properties"] = {} if p is None else {"platform": p}
        it.props = {} if p is None else {"platform": p}
    path = str(tmp_path / "props.parquet")
    items_df(spark, docs).write.parquet(path)
    return parse_items(spark, spark.read.parquet(path)), items


def test_groupby_property_all_null_key_plans_and_loads(spark, tmp_path):
    """Every item lacks the property: one NULL-keyed group, joined through
    the typed literal key map, pixels equal the list path."""
    parsed, items = _property_catalog(spark, tmp_path, [None, None, None])
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="platform", chunks=(64, 64))
    assert plan.group_keys == [None]
    got = assemble_numpy(tiles_df, plan)
    tiles2, plan2 = load(spark, items, groupby="platform", chunks=(64, 64))
    assert plan2.group_keys == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    for b in want:
        np.testing.assert_array_equal(got[b], want[b])


def test_groupby_non_ascii_keys_order_like_list_path(spark, tmp_path):
    """String keys sort in UTF-8 binary (code point) order on both paths:
    U+FF5E before U+1F600, though UTF-16 code units would reverse them."""
    parsed, items = _property_catalog(spark, tmp_path, ["\U0001f600", "émile", "～"])
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="platform", chunks=(64, 64))
    assert plan.group_keys == ["émile", "～", "\U0001f600"]
    got = assemble_numpy(tiles_df, plan)
    tiles2, plan2 = load(spark, items, groupby="platform", chunks=(64, 64))
    assert plan2.group_keys == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    for b in want:
        np.testing.assert_array_equal(got[b], want[b])
