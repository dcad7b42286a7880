"""catalog_join: metadata-only indexing of an image catalog.

footprints → tiling.with_cell (adaptive) → broadcast join against a
500-AOI layer → partitioned (shuffle) join against a 40-AOI layer that
holds the 40°×40° giant AOI → self-kNN (k=8) over a quarter of the image
centres.  No pixel is decoded and nothing is committed.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from common import Context, Interrupted, aoi_base, digest, image_base, require, run_steps

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.geo import geometry as G
from geospatial_studio_pipelines_spark.operators import footprints, knn, spatial_join, tiling

FOOTPRINTS = 4_000
BROADCAST_AOIS = 500
PARTITIONED_AOIS = 40
KNN_EVERY = 4  # kNN over ordinals ≡ 0 (mod 4)
K = 8
SAMPLE = 48
KNN_SAMPLE = 12


def catalog_df(spark, base: int, n: int):
    """Image metadata rows (image_id, w, h, phash) for ordinals
    [base, base + n): the columns ``datagen.image_row`` derives from an
    ordinal, without generating pixels."""
    i = F.col("id")
    widths = F.array(*[F.lit(x) for x in datagen._WIDTHS])
    heights = F.array(*[F.lit(x) for x in datagen._HEIGHTS])
    return spark.range(base, base + n, numPartitions=spark.sparkContext.defaultParallelism).select(
        F.format_string("img-%08d", i).alias("image_id"),
        F.element_at(widths, (i % 4 + 1).cast("int")).cast("int").alias("w"),
        F.element_at(heights, (F.floor(i / 4) % 4 + 1).cast("int")).cast("int").alias("h"),
        (i * F.lit(2654435761)).alias("phash"),
    )


class CatalogJoin:
    name = "catalog_join"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.base = image_base(ctx.seed)
        self.aoi0 = aoi_base(ctx.seed)
        ctx.sizes.update(
            footprints=FOOTPRINTS, broadcast_aois=BROADCAST_AOIS,
            partitioned_aois=PARTITIONED_AOIS, knn_points=FOOTPRINTS // KNN_EVERY, k=K,
            image_ordinal_base=self.base, aoi_ordinal_base=self.aoi0,
        )

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        rows = [datagen.aoi_row(0)] + [
            datagen.aoi_row(j) for j in range(self.aoi0, self.aoi0 + BROADCAST_AOIS - 1)
        ]
        self.aois = pd.DataFrame(rows)
        self.part_aois = self.aois.iloc[:PARTITIONED_AOIS].reset_index(drop=True)
        step = FOOTPRINTS // SAMPLE
        self.sample_ids = [f"img-{self.base + k * step:08d}" for k in range(SAMPLE)]
        kstep = FOOTPRINTS // KNN_SAMPLE // KNN_EVERY * KNN_EVERY
        first = -(-self.base // KNN_EVERY) * KNN_EVERY
        self.knn_ids = [f"img-{first + k * kstep:08d}" for k in range(KNN_SAMPLE)]

    def setup(self) -> None:
        spark = self.ctx.spark
        self.catalog = catalog_df(spark, self.base, FOOTPRINTS)
        self.part_aois_df = spark.createDataFrame(self.part_aois, schema=datagen.AOI_SCHEMA)

    def warmup(self) -> None:
        """A full job, its steps run concurrently, cut short after its last
        layer ran; nothing is committed, so the first timed job is its
        complete re-run."""
        self.job(interrupt=True)

    # --------------------------------------------------------------- job

    def op(self) -> dict:
        return self.job()

    def job(self, interrupt: bool = False) -> dict:
        t, ctx = self.ctx.tracer, self.ctx
        fp = t.call(
            "tiling.with_cell",
            lambda: tiling.with_cell(footprints.with_footprint(self.catalog)),
        )
        if t.enabled:
            with t.span("trace.counts"):
                r = fp.agg(F.count("cell_id").alias("n"), F.countDistinct("cell_id").alias("d")).first()
            ctx.count("tiling.cells_assigned", r["n"])
            ctx.count("tiling.distinct_cells", r["d"])
        sample = F.col("image_id").isin(self.sample_ids)
        part_ids = F.col("aoi_id").isin(list(self.part_aois["aoi_id"]))

        def broadcast():
            bc = t.call("spatial_join.broadcast", spatial_join.broadcast_spatial_join, fp, self.aois)
            with t.span("output"):
                return digest(bc, ["image_id", "aoi_id"], sample, ["image_id", "aoi_id"], part_ids)

        def partitioned():
            part = t.call("spatial_join.partitioned", spatial_join.partitioned_spatial_join, fp, self.part_aois_df)
            with t.span("output"):
                return digest(part, ["image_id", "aoi_id"], sample, ["image_id", "aoi_id"])

        def nearest():
            pts = fp.filter(F.col("ordinal") % KNN_EVERY == 0).select("image_id", "lat", "lon")
            nn = t.call("knn", knn.knn_join, pts, k=K)
            with t.span("output"):
                return digest(
                    nn, ["image_id", "nid", "rank"], F.col("image_id").isin(self.knn_ids),
                    ["image_id", "nid", "dist2", "rank"],
                )

        out = run_steps({"bc": broadcast, "part": partitioned, "knn": nearest}, parallel=interrupt)
        if interrupt:
            raise Interrupted("catalog_join warm-up job cut short")
        ctx.count("spatial_join.broadcast_pairs", out["bc"]["n"])
        ctx.count("spatial_join.partitioned_pairs", out["part"]["n"])
        return {"images": FOOTPRINTS, "out": out}

    # ------------------------------------------------------------ checks

    def prepare_oracles(self) -> None:
        fp = footprints.with_footprint(self.catalog)
        pdf = fp.filter(F.col("image_id").isin(self.sample_ids)).toPandas()
        ref = pd.DataFrame([datagen.image_row(int(i[4:])) for i in pdf["image_id"]])
        cols = ["image_id", "w", "h", "phash"]
        require((pdf[cols].values == ref[cols].values).all(), "catalog rows differ from datagen.image_row")
        self.want_bc = spatial_join.spatial_join_oracle(pdf, bbox_candidates(pdf, self.aois))
        self.want_part = spatial_join.spatial_join_oracle(pdf, bbox_candidates(pdf, self.part_aois))
        pts = fp.filter(F.col("ordinal") % KNN_EVERY == 0).select("image_id", "lat", "lon").toPandas()
        self.want_knn = knn_sample_oracle(pts, self.knn_ids, K)

    def finish(self, ops: list[dict]) -> dict:
        return {}

    def check(self, out: dict) -> None:
        bc, part, nn = out["bc"], out["part"], out["knn"]
        require(
            (bc["n_sub"], bc["h_sub"]) == (part["n"], part["h"]),
            f"broadcast pairs on the partitioned layer ({bc['n_sub']}) differ from "
            f"the partitioned join's ({part['n']})",
        )
        for name, got, want in (("broadcast", bc, self.want_bc), ("partitioned", part, self.want_part)):
            pairs = {(r["image_id"], r["aoi_id"]) for r in got["sample"]}
            require(pairs == want, f"{name} sample pairs differ from spatial_join_oracle: {sorted(pairs ^ want)[:4]}")
        require(nn["n"] == K * (FOOTPRINTS // KNN_EVERY), f"kNN returned {nn['n']} rows")
        got = sorted((r["image_id"], r["rank"], r["nid"], r["dist2"]) for r in nn["sample"])
        want = self.want_knn
        require(
            [g[:3] for g in got] == [w[:3] for w in want]
            and np.allclose([g[3] for g in got], [w[3] for w in want], rtol=1e-12, atol=0),
            "kNN sample rows differ from knn_oracle",
        )

    @staticmethod
    def corrupt(out: dict) -> None:
        out["part"]["h"] += 1

    # ------------------------------------------------- driver-side kernels

    def kernels(self) -> dict:
        """geo.strtree / geo.geometry on the sampled footprints against the
        ``pack_aois`` output, single-threaded in this process."""
        fp = footprints.with_footprint(self.catalog).select("minx", "miny", "maxx", "maxy")
        boxes = fp.limit(2_000).toPandas().to_numpy(dtype=np.float64)
        return geo_kernels(boxes, self.aois)


def geo_kernels(boxes: np.ndarray, aois: pd.DataFrame, repeat: int = 5) -> dict:
    import pickle

    packed = pickle.loads(spatial_join.pack_aois(aois))
    tree, rings = packed["tree"], packed["rings"]
    q_s = e_s = 0.0
    for _ in range(repeat):
        t0 = time.perf_counter()
        qi, ti = tree.query_many(boxes)
        t1 = time.perf_counter()
        keep = np.zeros(len(qi), dtype=bool)
        for a in np.unique(ti):
            sel = ti == a
            keep[sel] = G.polygon_intersects_boxes(rings[a], boxes[qi[sel]])
        t2 = time.perf_counter()
        q_s += t1 - t0
        e_s += t2 - t1
    return {
        "geo.strtree.query_s": q_s / repeat,
        "geo.strtree.candidates": len(qi),
        "geo.geometry.exact_s": e_s / repeat,
        "geo.geometry.hits": int(keep.sum()),
        "geo.hit_ratio": float(keep.sum()) / max(len(qi), 1),
    }


def bbox_candidates(fp: pd.DataFrame, aois: pd.DataFrame) -> pd.DataFrame:
    """The AOIs whose bbox meets some footprint's bbox (the only ones the
    oracle can pair), so the brute-force oracle runs on fewer AOIs."""
    hit = np.zeros(len(aois), dtype=bool)
    for r in fp.itertuples(index=False):
        hit |= (
            (aois["bbox_minx"] <= r.maxx) & (aois["bbox_maxx"] >= r.minx)
            & (aois["bbox_miny"] <= r.maxy) & (aois["bbox_maxy"] >= r.miny)
        ).to_numpy()
    return aois[hit].reset_index(drop=True)


def knn_sample_oracle(pts: pd.DataFrame, query_ids: list[str], k: int) -> list[tuple]:
    """``knn.knn_oracle`` for a few query points: each query's k nearest
    neighbours lie among its 8k nearest points, so the oracle runs on that
    subset and its rows for the query are kept."""
    lon = pts["lon"].to_numpy(dtype=np.float64)
    lat = pts["lat"].to_numpy(dtype=np.float64)
    index = {v: i for i, v in enumerate(pts["image_id"])}
    rows = []
    for q in query_ids:
        i = index[q]
        d2 = (lon - lon[i]) ** 2 + (lat - lat[i]) ** 2
        near = np.argsort(d2, kind="stable")[: 8 * k + 1]
        sub = knn.knn_oracle(pts.iloc[near].reset_index(drop=True), k=k)
        for r in sub[sub["image_id"] == q].itertuples(index=False):
            rows.append((r.image_id, int(r.rank), r.nid, float(r.dist2)))
    return sorted(rows)

