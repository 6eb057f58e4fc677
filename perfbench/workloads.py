"""The benchmark's workloads: their inputs, their requests and their output
checks. Every request calls the program's public functions only.

A request is a list of phases; a phase is one public call, timed as its own
span (and, when tracing, run under its own Spark job group). Every request
ends by writing its result into the ``noop`` sink, which materializes it
without collecting it (the reference's persist+wait analog).
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import sys
import time
import zlib
from datetime import timedelta

import numpy as np

from inputs import (
    CATALOG_CHUNK,
    catalog_asset_rows,
    catalog_list_items,
    mosaic_items,
    warp_items,
    write_stac_dumps,
    write_tables,
)

QUERY_SCAN = (
    "q4_late_ship_orders", "q12_priority_by_ship_month", "q13_customer_order_distribution",
    "q16_supplier_count_by_part", "q18_large_quantity_orders", "q21_exclusive_return_suppliers",
    "window_top3_orders_per_customer", "t_session_windows", "funnel_stages",
    "pivot_user_event_matrix", "j_interval_bucketed", "dedup_exact", "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
)
# Not in QUERY_SCAN, because their checks fail on some seeds:
# - q1_pricing_summary, q3_shipping_priority, q5_local_supplier_volume,
#   q7_nation_pair_volume and q19_disjunctive_revenue round a double sum of
#   money to cents. When the exact sum ends in a half cent, the rounded
#   value depends on the order of summation, and Spark and DuckDB can round
#   it different ways (q7 at seed 2: 6467456.27 against 6467456.28). About
#   a quarter of the seeds have such a tie.
# - text_quality_score: at sf0.1 its 4-decimal `quality` differs from its
#   DuckDB oracle on exact rounding ties (0.5418 vs 0.5417), on the seeded
#   tables and on the sf0.1 fixture alike.
# q4, q12, q16, q18 and q21 take their place: lineitem joins and aggregates
# with exact results.
QUERY_ITERATIVE = (
    "dedup_pipeline_e2e", "emb_mutual_knn_cc", "text_bpe_train", "emb_pca_power_iteration",
)
AUDIT_COLS = ("band", "t", "iy", "ix", "valid_count", "crc32")


def sink(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def out_pixels(plan) -> int:
    """bands x groups x grid area: the reference's output-pixel count."""
    return len(plan.bands) * len(plan.group_keys) * plan.gbox.shape[0] * plan.gbox.shape[1]


def audit_digest(df) -> dict:
    """(band, t, iy, ix) -> (valid_count, crc32) over every tile."""
    return {(r[0], r[1], r[2], r[3]): (r[4], r[5]) for r in df.select(*AUDIT_COLS).collect()}


# ---- replay of single tiles in this process ---------------------------------

def _group_index(items, groupby: str):
    """item index -> group index t, sorted by group key like the planner."""
    from odc_stac_spark.model import solar_offset_seconds

    def key(it):
        if groupby == "time":
            return it.datetime
        return (it.datetime + timedelta(seconds=solar_offset_seconds(it.lon))).date()

    keys = [key(it) for it in items]
    order = {k: t for t, k in enumerate(sorted(set(keys)))}
    return [order[k] for k in keys]


def replay_tiles(items, plan, groupby: str, digest: dict, n: int, rng) -> dict:
    """Recompute ``n`` seed-sampled tiles in this process through the public
    reader (``reader_for(uri).read``) and mosaic (``fill_tile``) functions
    and compare each with the Spark result's audit digest."""
    from odc_stac_spark.model import (
        nodata_mask,
        resolve_dst_dtype,
        resolve_dst_nodata,
        resolve_src_nodata,
    )
    from odc_stac_spark.operators.mosaic import fill_tile
    from odc_stac_spark.sources.synth import reader_for

    t_of = _group_index(items, groupby)
    keys = sorted(digest)
    picks = [keys[i] for i in rng.choice(len(keys), size=min(n, len(keys)), replace=False)]
    read_s = fill_s = 0.0
    mpx = 0.0
    bad = []
    for band, t, iy, ix in picks:
        tgb = plan.tiles.tile_geobox(iy, ix)
        cfg = plan.cfg[band]
        srcs = [
            it.bands[band]
            for i, it in sorted(enumerate(items), key=lambda p: (p[1].datetime, p[1].id))
            if t_of[i] == t
            and band in it.bands
            and (iy, ix) in set(plan.tiles.tiles_overlapping_bbox(it.bands[band].geobox.bbox()))
        ]
        src_nodata = resolve_src_nodata(srcs[0].meta.nodata, cfg)
        dst_dtype = resolve_dst_dtype(srcs[0].meta.data_type, cfg)
        dst_nodata = resolve_dst_nodata(dst_dtype, cfg, src_nodata)
        t0 = time.perf_counter()
        reads = [reader_for(s.uri).read(s, cfg, tgb) for s in srcs]
        t1 = time.perf_counter()
        arr = fill_tile(tgb.shape, dst_dtype, dst_nodata, reads)
        t2 = time.perf_counter()
        read_s += t1 - t0
        fill_s += t2 - t1
        mpx += arr.size / 1e6
        got = (int(arr.size - nodata_mask(arr, dst_nodata).sum()), zlib.crc32(arr.tobytes()))
        if digest[(band, t, iy, ix)] != got:
            bad.append(f"tile {(band, t, iy, ix)}: spark {digest[(band, t, iy, ix)]} != replay {got}")
    return {"tiles": len(picks), "mpx": mpx, "read_s": read_s, "fill_s": fill_s, "bad": bad}


# ---- workloads --------------------------------------------------------------

class Workload:
    """One fixed request list over seeded inputs.

    ``prepare`` writes the inputs (excluded from set-up time). ``run`` makes
    one request; ``checked=True`` is the warm-up form, which returns what
    ``check`` compares with an independent computation. ``probe`` runs the
    traced-only layer probes and ``modules`` turns the traced run into the
    metrics of the modules this workload reaches."""

    raster = False

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.rng = np.random.default_rng([seed, 99])

    def pass_order(self, ids: list) -> list:
        return ids

    def probe(self, spark, tr) -> None:
        pass


class Raster(Workload):
    """A load workload: its check replays tiles, which gives the kernel's
    per-Mpx cost outside Spark."""

    raster = True

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.pixels: dict = {}  # request id -> output pixels
        self.replay: dict = {}  # request id -> replay_tiles result

    def kernel_s(self, rid: str) -> float:
        """Replayed kernel seconds scaled to the request's whole output."""
        r = self.replay[rid]
        return (r["read_s"] + r["fill_s"]) / r["mpx"] * self.pixels[rid] / 1e6

    def modules(self, med, probe) -> dict:
        mpx = sum(r["mpx"] for r in self.replay.values())
        run_s = med("tile.run_s")
        return {
            "sources.synth.read_ms_per_mpx": 1e3 * sum(r["read_s"] for r in self.replay.values()) / mpx,
            "operators.mosaic.fill_ms_per_mpx": 1e3 * sum(r["fill_s"] for r in self.replay.values()) / mpx,
            "operators.mosaic.kernel_share": med("tile.kernel_s") / run_s if run_s else 0.0,
        }


class MosaicList(Raster):
    """List-path ``load()``: the s2-ms-mosaic shape and the warp shape, in turn."""

    def prepare(self):
        self.shapes = {"mosaic": mosaic_items(self.seed), "warp": warp_items(self.seed)}

    def request_ids(self):
        return list(self.shapes)

    def run(self, spark, tr, rid, checked=False):
        from odc_stac_spark.plans.load import load, plan_load

        items, kw = self.shapes[rid]
        with tr.phase("plans.load.plan"):
            plan = plan_load(items, audit=checked, **kw)
        with tr.phase("plans.load.build"):
            df, _ = load(spark, items, plan=plan)
        self.pixels[rid] = out_pixels(plan)
        with tr.phase("exec"):
            if checked:
                return plan, audit_digest(df)
            sink(df)
        return self.pixels[rid]

    def check(self, spark, outputs) -> list:
        fails = []
        for rid, (plan, digest) in outputs.items():
            items, kw = self.shapes[rid]
            tiles = plan.tiles.chunk_counts[0] * plan.tiles.chunk_counts[1]
            if len(digest) != tiles * len(plan.bands) * len(plan.group_keys):
                fails.append((rid, f"{len(digest)} tiles, expected every tile of the grid"))
            self.replay[rid] = replay_tiles(items, plan, kw["groupby"], digest, 6, self.rng)
            fails += [(rid, b) for b in self.replay[rid]["bad"]]
        return fails

    def modules(self, med, probe) -> dict:
        return {
            "plans.load.plan_s": med("plans.load.plan_s"),
            "plans.load.build_s": med("plans.load.build_s"),
            "plans.load.tile_tasks": med("tile.tasks"),
            **super().modules(med, probe),
        }


class CatalogStac(Raster):
    """STAC API dump -> parse_items -> plan_load_df -> load_from_catalog.

    A pass makes one request per date and one over every date, so a pass
    and a request are different amounts of work."""

    def prepare(self):
        self.paths = write_stac_dumps(os.path.join(self.work_dir, "stac"), self.seed)
        self.items = catalog_list_items(self.seed)

    def request_ids(self):
        return list(self.paths)

    def run(self, spark, tr, rid, checked=False):
        from odc_stac_spark.plans.catalog import load_from_catalog, plan_load_df
        from odc_stac_spark.sources.stac_items import parse_items, read_stac_api_dump

        with tr.phase("sources.stac_items.parse"):
            parsed = parse_items(spark, read_stac_api_dump(spark, self.paths[rid]))
        with tr.phase("plans.catalog.plan"):
            plan = plan_load_df(spark, parsed, groupby="time", chunks=(CATALOG_CHUNK, CATALOG_CHUNK))
        if checked:
            plan = dataclasses.replace(plan, audit=True)
        with tr.phase("plans.catalog.build"):
            df, _ = load_from_catalog(spark, parsed, groupby="time", plan=plan)
        self.pixels[rid] = out_pixels(plan)
        with tr.phase("exec"):
            if checked:
                return plan, audit_digest(df)
            sink(df)
        return self.pixels[rid]

    def check(self, spark, outputs) -> list:
        from odc_stac_spark.plans.load import load

        plan, digest = outputs["all"]
        fails = []
        # the same logical items through the list path, on the same grid
        df, plan2 = load(
            spark, self.items, groupby="time", geobox=plan.gbox,
            chunks=(CATALOG_CHUNK, CATALOG_CHUNK), audit=True,
        )
        want = audit_digest(df)
        if plan2.group_keys != plan.group_keys:
            fails.append(("all", f"groups {plan.group_keys} != list path {plan2.group_keys}"))
        if digest != want:
            diff = sorted(k for k in set(digest) | set(want) if digest.get(k) != want.get(k))
            fails.append(("all", f"digest differs from list-path load() on {len(diff)} tiles, e.g. {diff[:3]}"))
        self.replay["all"] = replay_tiles(self.items, plan, "time", digest, 16, self.rng)
        fails += [("all", b) for b in self.replay["all"]["bad"]]
        self.gbox = plan.gbox
        # each date alone: the same grid, and the tiles of that date's group
        days = sorted({it.datetime for it in self.items})
        for rid in self.paths:
            if rid == "all":
                continue
            d = int(rid[3:])
            p, dg = outputs[rid]
            if p.gbox != plan.gbox:
                fails.append((rid, f"grid {p.gbox} != {plan.gbox} of every date"))
            if dg != {(b, 0, iy, ix): v for (b, t, iy, ix), v in digest.items() if t == d}:
                fails.append((rid, f"digest differs from group {d} of the load over every date"))
            items = [it for it in self.items if it.datetime == days[d]]
            self.replay[rid] = replay_tiles(items, p, "time", dg, 8, self.rng)
            fails += [(rid, b) for b in self.replay[rid]["bad"]]
        return fails

    def probe(self, spark, tr) -> None:
        """Time the list path (``plan_load``, ``load``) on the catalog's items."""
        from odc_stac_spark.plans.load import load, plan_load

        with tr.request("probe"):
            with tr.phase("plans.load.plan"):
                plan = plan_load(self.items, groupby="time", geobox=self.gbox,
                                 chunks=(CATALOG_CHUNK, CATALOG_CHUNK))
            with tr.phase("plans.load.build"):
                df, _ = load(spark, self.items, plan=plan)
            with tr.phase("exec"):
                sink(df)

    def modules(self, med, probe) -> dict:
        parse_s = med("sources.stac_items.parse_s")
        return {
            "sources.stac_items.parse_s": parse_s,
            "sources.stac_items.parse_jobs": med("sources.stac_items.parse_jobs"),
            "sources.stac_items.rows_per_s": sum(map(catalog_asset_rows, self.paths)) / parse_s,
            "plans.catalog.plan_s": med("plans.catalog.plan_s"),
            "plans.catalog.plan_jobs": med("plans.catalog.plan_jobs"),
            "plans.catalog.build_s": med("plans.catalog.build_s"),
            "plans.catalog.tile_tasks": med("tile.tasks"),
            # the list path on the same items, probed once
            "plans.load.plan_s": probe["plans.load.plan"]["s"],
            "plans.load.build_s": probe["plans.load.build"]["s"],
            "plans.load.tile_tasks": probe["exec"]["tile_tasks"],
            **super().modules(med, probe),
        }


class Queries(Workload):
    """One-shot registry queries over seeded tables at a scale factor."""

    names: tuple = ()
    sf = 0.1

    def prepare(self):
        self.sf_dir = os.path.join(self.work_dir, f"sf{self.sf}")
        write_tables(self.sf_dir, self.sf, self.seed)

    def request_ids(self):
        return list(self.names)

    def pass_order(self, ids):
        return [ids[i] for i in self.rng.permutation(len(ids))]

    def run(self, spark, tr, rid, checked=False):
        from odc_stac_spark.queries import REGISTRY

        with tr.phase("queries.build"):
            df = REGISTRY[rid].spark_fn(spark, self.sf_dir)
        with tr.phase("exec"):
            if checked:
                return df.toPandas()
            sink(df)
        return 0

    def check(self, spark, outputs) -> list:
        from odc_stac_spark.queries import REGISTRY

        sys.path.insert(0, os.path.join(REPO, "tests"))
        from oracle_compare import duckdb_conn, normalize

        con = duckdb_conn(self.sf_dir)
        fails = []
        for name, got in outputs.items():
            if name == "text_bpe_train":
                want = bpe_train_oracle(con)
            else:
                want = con.sql(REGISTRY[name].oracle).df()
            g, w = normalize(got), normalize(want)
            if list(g.columns) != list(w.columns) or len(g) != len(w) or _hash(g) != _hash(w):
                fails.append((name, f"{len(g)} rows {list(g.columns)} != oracle {len(w)} rows {list(w.columns)}"))
            elif len(g) == 0:
                fails.append((name, "empty result"))
        con.close()
        return fails

    def probe(self, spark, tr) -> None:
        """Time ``load_table`` per table at the workload's scale factor."""
        from odc_stac_spark.sources.tables import TABLES, load_table

        with tr.request("probe"):
            for t in TABLES:
                with tr.phase("sources.tables.load_table"):
                    load_table(spark, self.sf_dir, t)

    def modules(self, med, probe) -> dict:
        return {
            "queries.build_s": med("queries.build_s"),
            "queries.build_jobs": med("queries.build_jobs"),
            "queries.exec_s": med("exec_s"),
            "queries.exec_jobs": med("exec_jobs"),
            "sources.tables.load_table_s": probe["sources.tables.load_table"]["s"],
            "sources.tables.load_table_jobs": probe["sources.tables.load_table"]["jobs"],
        }


class QueryScan(Queries):
    names = QUERY_SCAN
    sf = 0.1


class QueryIterative(Queries):
    names = QUERY_ITERATIVE
    sf = 0.01


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hash(norm) -> str:
    return hashlib.md5(norm.to_csv(index=False, float_format="%.9g").encode()).hexdigest()


def bpe_train_oracle(con):
    """text_bpe_train's oracle image for a generated corpus: the merge
    sequence of the package's sequential reference trainer over the DuckDB
    word histogram (the registered oracle holds goldens for the fixed
    fixture corpora only)."""
    import pandas as pd

    from odc_stac_spark.operators.bpe import bpe_reference

    hist = [
        (w, c) for w, c in con.sql(
            "SELECT w, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS w "
            "FROM documents) GROUP BY 1"
        ).fetchall() if w
    ]
    rows = [(s, a, b, a + b, n) for s, a, b, n in bpe_reference(hist, 12)]
    return pd.DataFrame(rows, columns=["step", "left", "right", "merged", "pair_count"])


# Every module metric of a traced run. A workload reports 0 for the modules
# it does not reach: no time, jobs or tiles spent in them.
MODULE_METRICS = (
    "queries.build_s", "queries.build_jobs", "queries.exec_s", "queries.exec_jobs",
    "sources.tables.load_table_s", "sources.tables.load_table_jobs",
    "sources.stac_items.parse_s", "sources.stac_items.parse_jobs",
    "sources.stac_items.rows_per_s",
    "plans.catalog.plan_s", "plans.catalog.plan_jobs", "plans.catalog.build_s",
    "plans.catalog.tile_tasks",
    "plans.load.plan_s", "plans.load.build_s", "plans.load.tile_tasks",
    "sources.synth.read_ms_per_mpx", "operators.mosaic.fill_ms_per_mpx",
    "operators.mosaic.kernel_share",
)

WORKLOADS = {
    "mosaic_list": MosaicList,
    "catalog_stac": CatalogStac,
    "query_scan": QueryScan,
    "query_iterative": QueryIterative,
}
