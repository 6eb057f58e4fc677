"""Seeded benchmark inputs. Every input the program sees comes from here.

- ``write_tables``: the ten fixture tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) at a scale factor, with the
  schemas and value domains the query registry and its oracles expect.
- ``mosaic_items`` / ``warp_items``: the two list-path ``load()`` shapes.
- ``write_stac_dumps``: STAC API ItemCollection JSON documents on disk (one
  per date and one with every date), plus the equivalent list-path items
  for the catalog output check.

The same seed always gives the same inputs. This module imports no Spark.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY = np.timedelta64(1, "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a) / _DAY) + 1, n) * _DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> list:
    """Bag-of-words documents over a small vocabulary; ~5% are near
    copies (a few words swapped or appended) and ~0.2% exact copies of an
    earlier document, so the dedup queries find clusters."""
    vocab = np.array(WORDS)
    docs: list = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.002:
            docs.append(docs[int(rng.integers(0, i))])
            continue
        if i > 10 and u < 0.05:
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            if rng.random() < 0.5:
                words.append("dup")
            docs.append(" ".join(words))
            continue
        docs.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return docs


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten fixture tables for scale factor ``sf``.

    The timestamp columns (``o_orderdate``, ``l_shipdate``, ``events.ts``)
    are stored as the fixture stores them: parquet TIMESTAMP(MICROS) not
    adjusted to UTC, which Spark reads as ``timestamp_ntz``. ``load_table``
    therefore takes the same normalization branch on these tables as on the
    fixture. (The fixture's pandas metadata names ``datetime64[ns]`` and
    ``datetime64[s]``, but the parquet columns it wrote are microseconds.)"""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 10_000)])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


# ---- raster inputs ---------------------------------------------------------

T0 = datetime(2020, 6, 6, 8, 30)
UTM = "EPSG:32735"


def _shift(seed: int) -> float:
    """Seeded whole-pixel x offset of a whole scene layout (10 m pixels):
    moves every scene and the output grid together, so sizes stay fixed."""
    return 10.0 * int(np.random.default_rng([seed, 7]).integers(0, 64))


def mosaic_items(seed: int):
    """The s2-ms-mosaic shape: 9 scenes of 2000x2816 stacked 1000 rows
    apart, 2 uint16 bands -> a 10000x2816 grid, ~56 Mpx out, nearest."""
    from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
    from odc_stac_spark.plans.load import Item

    n, ny, nx, dy = 9, 2000, 2816, 1000
    x0 = _shift(seed)
    items = []
    for i in range(n):
        y0 = 10.0 * (ny + (n - 1) * dy) - i * dy * 10.0
        gbox = GeoBox((ny, nx), (10.0, 0.0, x0, 0.0, -10.0, y0), UTM)
        s = seed * 1000 + i
        items.append(Item(
            id=f"mosaic-{i:03d}",
            datetime=T0 + timedelta(minutes=i),
            bands={
                b: RasterSource(
                    f"synth://{b}{i}?seed={s}&nodata_every=5",
                    geobox=gbox,
                    meta=RasterBandMetadata("uint16", 0),
                )
                for b in ("red", "nir")
            },
            lon=27.4,
        ))
    return items, dict(groupby="solar_day", chunks=(1024, 1024))


def warp_items(seed: int):
    """The warp shape: 12 single-band scenes offset half a pixel from a
    13000x2816 output grid (36.6 Mpx), bilinear -> the dense warp path."""
    from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterLoadParams, RasterSource
    from odc_stac_spark.plans.load import Item

    n, ny, nx, dy = 12, 2000, 2816, 1000
    x0 = _shift(seed)
    top = 10.0 * (ny + (n - 1) * dy)
    items = []
    for i in range(n):
        gbox = GeoBox((ny, nx), (10.0, 0.0, x0 + 5.0, 0.0, -10.0, top - i * dy * 10.0 + 5.0), UTM)
        items.append(Item(
            id=f"warp-{i:03d}",
            datetime=T0 + timedelta(minutes=i),
            bands={"red": RasterSource(
                f"synth://w{i}?seed={seed * 1000 + 500 + i}",
                geobox=gbox,
                meta=RasterBandMetadata("uint16", 0),
            )},
            lon=27.4,
        ))
    out = GeoBox((ny + (n - 1) * dy, nx), (10.0, 0.0, x0, 0.0, -10.0, top), UTM)
    cfg = {"*": RasterLoadParams(dtype="uint16", fill_value=0, resampling="bilinear")}
    return items, dict(groupby="solar_day", geobox=out, chunks=(512, 512), cfg=cfg)


# ---- STAC catalog ------------------------------------------------------------

CATALOG = dict(dates=2, grid=2, side=256, overlap=16, bands=("red", "nir"))
CATALOG_CHUNK = 256


def _catalog_layout(seed: int):
    """(item id, datetime, origin, {band: (href, synth seed)}) per scene."""
    c = CATALOG
    step = (c["side"] - c["overlap"]) * 10.0
    x0 = _shift(seed)
    top = 10.0 * (c["side"] + (c["grid"] - 1) * (c["side"] - c["overlap"]))
    out = []
    for d in range(c["dates"]):
        for r in range(c["grid"]):
            for k in range(c["grid"]):
                idx = (d * c["grid"] + r) * c["grid"] + k
                hrefs = {}
                for j, b in enumerate(c["bands"]):
                    s = seed * 10_000 + idx * len(c["bands"]) + j
                    hrefs[b] = f"synth://{b}{idx}?seed={s}&nodata_every=4"
                out.append((
                    f"scene-{idx:04d}",
                    T0 + timedelta(days=d),
                    (x0 + k * step, top - r * step),
                    hrefs,
                ))
    return out


def write_stac_dumps(out_dir: str, seed: int) -> dict:
    """Write the catalog as STAC API ItemCollection JSON documents: one per
    date (``day0``, ``day1``, ...) and one with every date (``all``).
    Returns request id -> path."""
    side = CATALOG["side"]
    feats: dict = {}  # date index -> features
    for item_id, ts, (ox, oy), hrefs in _catalog_layout(seed):
        transform = [10.0, 0.0, ox, 0.0, -10.0, oy]
        feats.setdefault((ts - T0).days, []).append({
            "type": "Feature",
            "stac_version": "1.0.0",
            "stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
            "id": item_id,
            "collection": "bench-synth",
            "bbox": [ox, oy - side * 10.0, ox + side * 10.0, oy],
            "properties": {"datetime": ts.strftime("%Y-%m-%dT%H:%M:%SZ"), "gsd": 10.0},
            "assets": {
                b: {
                    "href": href,
                    "type": "image/tiff; application=geotiff; profile=cloud-optimized",
                    "roles": ["data"],
                    "proj:shape": [side, side],
                    "proj:transform": transform,
                    "proj:epsg": 32735,
                    "eo:bands": [{"name": b}],
                    "raster:bands": [{"data_type": "uint16", "nodata": 0.0, "unit": "1"}],
                }
                for b, href in hrefs.items()
            },
            "links": [],
        })
    docs = {f"day{d}": fs for d, fs in sorted(feats.items())}
    docs["all"] = [f for fs in docs.values() for f in fs]
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for rid, fs in docs.items():
        paths[rid] = os.path.join(out_dir, f"{rid}.json")
        with open(paths[rid], "w") as fh:
            json.dump({"type": "FeatureCollection", "features": fs}, fh)
    return paths


def catalog_list_items(seed: int):
    """The catalog's logical items as list-path ``Item`` objects."""
    from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
    from odc_stac_spark.plans.load import Item

    side = CATALOG["side"]
    items = []
    for item_id, ts, (ox, oy), hrefs in _catalog_layout(seed):
        gbox = GeoBox((side, side), (10.0, 0.0, ox, 0.0, -10.0, oy), UTM)
        items.append(Item(
            id=item_id,
            datetime=ts,
            bands={
                b: RasterSource(href, geobox=gbox, meta=RasterBandMetadata("uint16", 0.0))
                for b, href in hrefs.items()
            },
        ))
    return items


def catalog_asset_rows(rid: str) -> int:
    """Asset rows in request ``rid``'s dump."""
    c = CATALOG
    return (c["dates"] if rid == "all" else 1) * c["grid"] ** 2 * len(c["bands"])
