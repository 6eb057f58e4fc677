"""Catalog-native planning: the 100 TB ingestion path end to end.

``plans.load.plan_load`` takes a driver-resident item list — fine for the
reference's scenarios (≤10⁴ items, _stac_load.py:351-352) but not for a
catalog of 10⁸ items. Here the planning aggregations from SURVEY §2.4 run
over the ``parse_items`` output (itself a DataFrame transform over a
STAC-geoparquet-style catalog) as ONE grouping-sets aggregation, collected
once; only its tiny result reaches the driver (SURVEY §7.3 "100 TB scale
deltas"). Each grouping set is one election input, told apart by
``grouping_id()``:

- ``[asset_name]``  band meta (S3): first non-null dtype/nodata/unit,
                    #bands rows
- ``[g_crs, gsd]``  A7 resolution/CRS vote counts and the A8 affine bbox
                    per grid family, #(crs, gsd) rows
- ``[k]``           A1/A3/A5 group keys with their first member,
                    #groups rows (bounded by time range, not item count)

The driver elects from those rows (vote: count desc, gsd asc, crs asc;
keys: Spark's ascending order, NULL first). Only a catalog with grids
outside the output CRS runs a second action: the bbox union over
reprojected footprints (``_with_footprints``).

The item stream itself never leaves the cluster:
``sources_from_parsed`` maps parsed rows straight onto the
``load_from_sources`` input columns (a broadcast join against the
#groups-sized key→t map, a JVM literal relation), so catalog → plan →
tiles is DataFrame-only.
"""

from __future__ import annotations

import json
from typing import Dict, Optional, Sequence, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..model import GeoBox, GeoboxTiles, RasterBandMetadata, RasterLoadParams
from .load import DEFAULT_CHUNK, LoadPlan, load_from_sources, resolve_load_cfg


# plan_load_df's grouping sets over the grouping columns _SET_COLS;
# grouping_id() sets bit (n-1-i) when column i is aggregated away
_SETS = (("asset_name",), ("g_crs", "gsd"), ("k",))
_SET_COLS = ("asset_name", "g_crs", "gsd", "k")
_GIDS = tuple(
    sum(1 << (len(_SET_COLS) - 1 - i) for i, c in enumerate(_SET_COLS) if c not in s)
    for s in _SETS
)


# key type → (JSON element type of its internal value, conversion back);
# other types parse straight from their JSON form
_KEY_FROM_INTERNAL = {
    "timestamp": ("bigint", F.timestamp_micros),
    "date": ("int", F.date_from_unix_date),
}


def _spark_asc(v):
    """Sort key of Spark's ascending order: NULL first, NaN last; strings
    compare by code point, which is UTF-8 binary order."""
    return (v is not None, v != v, v)


def _spark_min(vals):
    """Spark ``min``: NULLs ignored, NaN above every number."""
    return min((v for v in vals if v is not None), key=_spark_asc, default=None)


def _spark_max(vals):
    """Spark ``max``: NULLs ignored, NaN above every number."""
    return max((v for v in vals if v is not None), key=_spark_asc, default=None)


def _with_geom_cols(parsed: DataFrame) -> DataFrame:
    """Per-row grid geometry scalars from the parsed g_* struct columns."""
    t = F.col("g_transform")
    nx = F.col("g_shape")[1].cast("double")
    ny = F.col("g_shape")[0].cast("double")
    x_a = t[2]
    x_b = t[2] + t[0] * nx
    y_a = t[5]
    y_b = t[5] + t[4] * ny
    return (
        parsed.where(F.col("g_shape").isNotNull() & F.col("g_transform").isNotNull())
        .withColumn("gsd", F.least(F.abs(t[0]), F.abs(t[4])))
        .withColumn("bb_xmin", F.least(x_a, x_b))
        .withColumn("bb_xmax", F.greatest(x_a, x_b))
        .withColumn("bb_ymin", F.least(y_a, y_b))
        .withColumn("bb_ymax", F.greatest(y_a, y_b))
        .withColumn("ts", F.coalesce("datetime", "start_datetime", "end_datetime"))
    )


def _with_footprints(df: DataFrame, dst_crs: str) -> DataFrame:
    """``fp_*`` columns: source footprint bbox expressed in ``dst_crs``.

    Same-CRS rows use the affine bbox already computed by
    ``_with_geom_cols``. Foreign-CRS rows reproject a densified boundary
    through :mod:`odc_stac_spark.functions.proj` — but only once per
    DISTINCT grid, not per row: catalogs tile on a fixed grid set
    (e.g. MGRS), so #grids ≪ #items, the per-grid footprints are a
    broadcast-sized dimension, and the Python work is O(grids) while the
    item stream itself stays JVM-side (the list path's driver-resident
    ``_footprint_in`` loop, plans/load.py, distributed)."""
    from .load import _footprint_in

    same = F.col("g_crs") == dst_crs

    @F.pandas_udf("xmin double, ymin double, xmax double, ymax double")
    def _fp(shape: pd.Series, transform: pd.Series, crs: pd.Series) -> pd.DataFrame:
        out = []
        for s, t, c in zip(shape, transform, crs):
            gbox = GeoBox((int(s[0]), int(s[1])), tuple(float(v) for v in t), str(c))
            out.append(_footprint_in(gbox, dst_crs))
        return pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])

    fps = (
        df.where(~same)
        .select("g_shape", "g_transform", "g_crs")
        .distinct()
        .withColumn("_fp", _fp("g_shape", "g_transform", "g_crs"))
    )
    return (
        df.join(F.broadcast(fps), ["g_shape", "g_transform", "g_crs"], "left")
        .withColumn("fp_xmin", F.when(same, F.col("bb_xmin")).otherwise(F.col("_fp.xmin")))
        .withColumn("fp_ymin", F.when(same, F.col("bb_ymin")).otherwise(F.col("_fp.ymin")))
        .withColumn("fp_xmax", F.when(same, F.col("bb_xmax")).otherwise(F.col("_fp.xmax")))
        .withColumn("fp_ymax", F.when(same, F.col("bb_ymax")).otherwise(F.col("_fp.ymax")))
        .drop("_fp")
    )


def _group_key_col(groupby: str, has_item_idx: bool = False) -> F.Column:
    """A1 group key as an expression (id-groupby needs no key: the catalog
    path orders within groups by (ts, item_id), see sources_from_parsed)."""
    if callable(groupby):
        return _callable_key_col(groupby, has_item_idx)
    if groupby == "time":
        return F.col("ts")
    if groupby == "solar_day":
        # A2: date after the longitude-derived whole-hour offset
        # (model.solar_offset_seconds: int(lon/15)*3600, trunc toward 0).
        # Longitude = grid centroid x — valid for geographic CRS only.
        lon = (F.col("bb_xmin") + F.col("bb_xmax")) / 2.0
        off = (lon / F.lit(15.0)).cast("int") * 3600
        return F.to_date(F.col("ts") + F.make_interval(secs=off.cast("double")))
    if isinstance(groupby, str):
        # any other string keys off the raw STAC properties map; items
        # missing the property share the NULL group (reference
        # _groupby_property, _stac_load.py:515-535)
        return F.element_at(F.col("properties"), F.lit(groupby))
    raise ValueError(
        f"groupby={groupby!r}: catalog path supports time|solar_day|<property>|callable"
    )


def _callable_key_col(fn, has_item_idx: bool) -> F.Column:
    """U: custom group-key callable on the CATALOG path (reference accepts
    callables anywhere, _stac_load.py:525-535; the list path runs them on
    driver items — here each catalog row is rebuilt into the same
    lightweight :class:`~odc_stac_spark.plans.load.Item` shape inside an
    Arrow-batched pandas UDF, so the identical callback works on both
    paths). The key must be a string (or None): catalog keys live in a
    DataFrame column and drive a broadcast equi-join, so arbitrary Python
    objects can't ride along — ``str()`` is applied to the return value."""
    import pandas as pd

    from .load import Item

    @F.pandas_udf("string")
    def _key(
        id_s: "pd.Series", ts_s: "pd.Series", props_s: "pd.Series", idx_s: "pd.Series"
    ) -> "pd.Series":
        out = []
        for i in range(len(id_s)):
            props = props_s.iloc[i]
            item = Item(
                id=id_s.iloc[i],
                datetime=ts_s.iloc[i],
                bands={},
                lon=None,
                props=dict(props) if props is not None else {},
            )
            idx = idx_s.iloc[i]
            k = fn(item, None if pd.isna(idx) else int(idx))
            out.append(None if k is None else str(k))
        return pd.Series(out, dtype=object)

    idx_col = F.col("item_idx") if has_item_idx else F.lit(None).cast("long")
    return _key(F.col("id"), F.col("ts"), F.col("properties"), idx_col)


def plan_load_df(
    spark: SparkSession,
    parsed: DataFrame,
    bands: Optional[Sequence[str]] = None,
    geobox: Optional[GeoBox] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    resolution: Optional[float] = None,
    crs: Optional[str] = None,
    groupby: str = "time",
    chunks: Tuple[int, int] = (DEFAULT_CHUNK, DEFAULT_CHUNK),
    cfg: Optional[Dict[str, RasterLoadParams]] = None,
    preserve_original_order: bool = False,
    geopolygon=None,
) -> LoadPlan:
    """Stages 1-6 of the load lifecycle with all aggregations distributed."""
    if geobox is not None and any(
        v is not None for v in (bbox, resolution, crs, geopolygon)
    ):
        raise ValueError(
            "geobox= is mutually exclusive with bbox=/resolution=/crs=/geopolygon="
        )
    if geopolygon is not None and bbox is not None:
        raise ValueError("geopolygon= is mutually exclusive with bbox=")
    base = _with_geom_cols(parsed)
    if bands is not None:
        base = base.where(F.col("asset_name").isin(list(bands)))
    key = _group_key_col(groupby, has_item_idx="item_idx" in base.columns)
    # solar_day derives longitude from the grid centroid — only valid for
    # geographic coordinates. A projected catalog would silently produce
    # garbage day offsets (meters/15 "hours"), so it is refused below;
    # its rows get no key, so the refusal is never masked by the key math.
    off_grid = F.col("g_crs") != "EPSG:4326"
    if groupby == "solar_day":
        key = F.when(off_grid, None).otherwise(key)
    # the representative ts per group follows the precedence basis —
    # (ts, id) or input index
    if preserve_original_order:
        _require_item_idx(base)
        member = F.struct("item_idx", "ts")
    else:
        member = F.struct("ts", "id")

    # every election in ONE aggregation, collected once:
    # #bands + #(crs, gsd) + #groups rows
    rows = (
        base.withColumns({"k": key, "m": member})
        .groupingSets(_SETS, *_SET_COLS)
        .agg(
            F.grouping_id().alias("gid"),
            # band meta (S3)
            F.first("data_type", ignorenulls=True).alias("data_type"),
            F.first("nodata", ignorenulls=True).alias("nodata"),
            F.first("unit", ignorenulls=True).alias("unit"),
            # A7 vote count and the A8 same-CRS bbox per (crs, gsd)
            F.count(F.lit(1)).alias("n"),
            F.min("bb_xmin").alias("x0"),
            F.min("bb_ymin").alias("y0"),
            F.max("bb_xmax").alias("x1"),
            F.max("bb_ymax").alias("y1"),
            # A1/A3/A5 first member per group
            F.min("m").alias("first_m"),
            F.bool_or(off_grid).alias("off_grid"),
        )
        .collect()
    )
    meta_rows, votes, groups = ([r for r in rows if r.gid == g] for g in _GIDS)

    if groupby == "solar_day" and any(r.off_grid for r in meta_rows):
        raise ValueError(
            "groupby='solar_day' on the catalog path requires EPSG:4326 "
            "source grids (longitude comes from the grid centroid); "
            "reproject the footprints or use the list path with "
            "explicit Item.lon"
        )
    if not meta_rows:
        raise ValueError("no raster sources in catalog (after band filter)")
    meta = {
        r.asset_name: RasterBandMetadata(r.data_type or "float32", r.nodata, r.unit or "1")
        for r in meta_rows
    }
    use_bands = list(bands) if bands is not None else sorted(meta)
    unknown = [b for b in use_bands if b not in meta]
    if unknown:
        raise ValueError(f"unknown bands: {unknown}")

    if geobox is None:
        if crs is None or resolution is None:
            # A7 JOINT (crs, gsd) majority vote (reference _most_common_gbox
            # _mdtools.py:726-749; advisor finding: voting gsd over all
            # CRSes can elect a meters resolution for a degrees grid):
            # count desc, then gsd asc, then crs asc
            cands = [r for r in votes if crs is None or r.g_crs == crs]
            if not cands:
                raise ValueError(f"no source grids in crs={crs!r}")
            r = min(cands, key=lambda r: (-r.n, _spark_asc(r.gsd), _spark_asc(r.g_crs)))
            if crs is None:
                crs = r.g_crs
            if resolution is None:
                resolution = float(r.gsd)
        if bbox is None and geopolygon is not None:
            # AOI bbox in the elected output CRS (list-path parity:
            # output_geobox's geopolygon query, plans/load.py)
            from .load import _bbox_to_crs, _geopolygon_bbox

            poly_bb, poly_crs = _geopolygon_bbox(geopolygon)
            bbox = _bbox_to_crs(poly_bb, poly_crs, crs)
        if bbox is None:
            # A8 bbox union: the per-(crs, gsd) affine bboxes when every
            # grid is in the output CRS; a foreign (or NULL) CRS needs the
            # reprojected footprints (list-path parity), one more action
            if crs is not None and all(r.g_crs == crs for r in votes):
                bbox = (
                    _spark_min(r.x0 for r in votes),
                    _spark_min(r.y0 for r in votes),
                    _spark_max(r.x1 for r in votes),
                    _spark_max(r.y1 for r in votes),
                )
            else:
                bb = _with_footprints(base, crs).agg(
                    F.min("fp_xmin").alias("x0"),
                    F.min("fp_ymin").alias("y0"),
                    F.max("fp_xmax").alias("x1"),
                    F.max("fp_ymax").alias("y1"),
                ).first()
                bbox = (bb.x0, bb.y0, bb.x1, bb.y1)
        geobox = GeoBox.from_bbox(bbox, resolution, crs)

    # temporal grouping (A1/A3/A5) in Spark's orderBy("k") order
    groups.sort(key=lambda r: _spark_asc(r.k))
    group_keys = [r.k for r in groups]
    group_ts = [r.first_m.ts for r in groups]

    # P4: ring geometry (when given) rides along in the output CRS so the
    # distributed tile binning can prune beyond the bounding box
    aoi = None
    if geopolygon is not None:
        from ..functions.geom import Polygon, normalize_geometry

        try:
            if isinstance(geopolygon, (Polygon, dict)) or (
                getattr(geopolygon, "__geo_interface__", None) is not None
            ):
                aoi = normalize_geometry(geopolygon).to_crs(geobox.crs)
        except (NotImplementedError, ValueError):
            aoi = None  # no transform for this CRS pair → bbox semantics

    return LoadPlan(
        gbox=geobox,
        tiles=GeoboxTiles(geobox, chunks),
        bands=use_bands,
        cfg=resolve_load_cfg(use_bands, {b: meta[b] for b in use_bands}, cfg),
        group_keys=group_keys,
        group_ts=group_ts,
        groupby=groupby,
        aoi=aoi,
    )


def sources_from_parsed(
    spark: SparkSession, parsed: DataFrame, plan: LoadPlan, groupby: str = "time"
) -> DataFrame:
    """parsed rows → load_from_sources input columns; the only non-map
    operations are the footprint join and a broadcast join against the
    #groups-sized key→t map."""
    base = _with_geom_cols(parsed).where(F.col("asset_name").isin(plan.bands))
    # tile binning (J1) needs the footprint bbox in the OUTPUT CRS:
    # same-CRS rows use the affine bbox; foreign-CRS rows get the
    # densified-boundary reproject (per distinct grid, broadcast back —
    # list-path parity, reference safe_geometry model.py:271-299)
    base = _with_footprints(base, plan.gbox.crs)
    keyed = base.withColumn(
        "k", _group_key_col(groupby, has_item_idx="item_idx" in base.columns)
    )
    # key→t as a JVM literal relation typed from the key column: one JSON
    # literal of the keys' internal values, so it costs O(1) py4j calls at
    # any #groups (a lit() per key costs ~0.4 ms), needs no Python-RDD
    # scan, and an all-NULL key column needs no special case
    kt = keyed.schema["k"].dataType
    elem, to_kt = _KEY_FROM_INTERNAL.get(kt.typeName(), (kt.simpleString(), None))
    keys = F.from_json(
        F.lit(json.dumps([kt.toInternal(k) for k in plan.group_keys])), f"array<{elem}>"
    )
    if to_kt is not None:
        keys = F.transform(keys, to_kt)
    key_map = spark.range(0, 1, 1, 1).select(
        F.posexplode(keys).alias("t", "_plan_k")
    ).withColumn("t", F.col("t").cast("bigint"))
    t = F.col("g_transform")
    return (
        # eqNullSafe: a property-groupby's missing-property group has a
        # NULL key, which a plain equi-join would silently drop
        keyed.join(F.broadcast(key_map), F.col("k").eqNullSafe(F.col("_plan_k")))
        .select(
            # input index drives preserve_original_order precedence when
            # the catalog carries one (items_df(..., with_idx=True) /
            # any ordered catalog column named item_idx); default
            # precedence is (ts, item_id)
            (
                F.col("item_idx")
                if "item_idx" in keyed.columns
                else F.lit(0).alias("item_idx")
            ),
            F.col("id").alias("item_id"),
            "ts",
            "t",
            F.col("asset_name").alias("band"),
            F.col("href").alias("uri"),
            F.col("band_idx").alias("src_band"),
            F.col("g_shape")[0].alias("g_ny"),
            F.col("g_shape")[1].alias("g_nx"),
            t[0].alias("g_sx"),
            t[2].alias("g_x0"),
            t[4].alias("g_sy"),
            t[5].alias("g_y0"),
            "g_crs",
            F.col("data_type").alias("dtype"),
            "nodata",
            "fp_xmin",
            "fp_ymin",
            "fp_xmax",
            "fp_ymax",
        )
    )


def _require_item_idx(df: DataFrame) -> None:
    if "item_idx" not in df.columns:
        raise ValueError(
            "preserve_original_order on the catalog path needs an "
            "item_idx column defining the input order (a DataFrame has no "
            "inherent row order) — build the catalog with "
            "items_df(..., with_idx=True) or attach your own index"
        )


def load_from_catalog(
    spark: SparkSession,
    parsed: DataFrame,
    groupby: str = "time",
    plan: Optional[LoadPlan] = None,
    preserve_original_order: bool = False,
    **plan_kwargs,
) -> Tuple[DataFrame, LoadPlan]:
    """catalog → plan → tiles, DataFrame-only (the item table never lives
    on the driver)."""
    if preserve_original_order:
        _require_item_idx(parsed)
    if plan is None:
        plan = plan_load_df(
            spark,
            parsed,
            groupby=groupby,
            preserve_original_order=preserve_original_order,
            **plan_kwargs,
        )
    sources = sources_from_parsed(spark, parsed, plan, groupby=groupby)
    return (
        load_from_sources(sources, plan, preserve_original_order=preserve_original_order),
        plan,
    )
