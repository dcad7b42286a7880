"""raster_chain: the per-image post-processing path on images with pixels
(the second half of each ``ingest_raster`` op).

raster.make_rgb → raster.pseudo_inference → masking.apply_mask_chain →
masking.mask_ocean → vectorize.vectorize → regularize.regularize (the chain
of ``contracts.q_image_pipeline``), plus tiling.chip_and_label (224/208
windows) over the labelled tenth of the images.  Inputs are written to
parquet during set-up (driver-side, with pyarrow), so a job reads stored
images, as a user's job would.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Context, digest, image_base, require, run_steps

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.codecs.image import decode_image, encode_image
from geospatial_studio_pipelines_spark.geo import wkb
from geospatial_studio_pipelines_spark.operators import (
    footprints, masking, raster, regularize, tiling, vectorize,
)

IMAGES = 16
SAMPLE_OFFSETS = (0, 6, 10, 14)  # even: only even ordinals carry QA rasters
SPEC = [
    {"name": "B04", "RGB_band": "R", "index": 0},
    {"name": "B03", "RGB_band": "G", "index": 1},
    {"name": "B02", "RGB_band": "B", "index": 2},
]
#: synthetic land layer of q_image_pipeline: everything west of lon 60
LAND_RING = np.array([[-180.0, -90.0], [60.0, -90.0], [60.0, 90.0], [-180.0, 90.0], [-180.0, -90.0]])
LAND = pd.DataFrame({"aoi_id": [0], "geom_wkb": [wkb.dumps_polygon([LAND_RING])]})
MIN_AREA = 4.0
TECHNIQUE = "adaptive_regularization"


class RasterChain:
    name = "raster_chain"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.base = image_base(ctx.seed)
        self.ordinals = list(range(self.base, self.base + IMAGES))
        self.sample_ids = [f"img-{self.base + k:08d}" for k in SAMPLE_OFFSETS]
        self.labelled_sample = f"img-{next(i for i in self.ordinals if i % 10 == 0):08d}"
        ctx.sizes.update(
            images=IMAGES, qa_rasters=IMAGES // 2,
            labelled_images=sum(1 for i in self.ordinals if i % 10 == 0),
            image_ordinal_base=self.base,
        )

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        """Write the inputs as one parquet file each.  Spark reads a small
        file as one partition, so the chain runs as one task per stage: at
        this size the per-task Python worker costs dominate, and with 32
        images one file per core measured slower (6.6-9.1 s against 5.9-6.2 s
        per job on 4 cores) with twice the peak memory."""
        d = self.ctx.run_dir
        tables = {
            "images": ([datagen.image_row(i) for i in self.ordinals], datagen.IMAGES_SCHEMA),
            "qa": ([datagen.qa_row(i) for i in self.ordinals if i % 2 == 0], datagen.QA_SCHEMA),
            "labels": ([datagen.label_row(i) for i in self.ordinals if i % 10 == 0], datagen.LABEL_SCHEMA),
        }
        for name, (rows, ddl) in tables.items():
            pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema(ddl)), str(d / f"{name}.parquet"))

    def setup(self) -> None:
        spark, d = self.ctx.spark, self.ctx.run_dir
        self.images = spark.read.schema(datagen.IMAGES_SCHEMA).parquet(str(d / "images.parquet"))
        self.qa = spark.read.schema(datagen.QA_SCHEMA).parquet(str(d / "qa.parquet"))
        self.labels = spark.read.schema(datagen.LABEL_SCHEMA).parquet(str(d / "labels.parquet"))

    # --------------------------------------------------------------- job

    def chain(self, images):
        """The q_image_pipeline chain up to the ocean mask."""
        t = self.ctx.tracer
        images = footprints.with_footprint(images).select(
            "image_id", "bytes", "w", "h", "minx", "miny", "maxx", "maxy"
        )
        rgb = t.call("raster.make_rgb", raster.make_rgb, images, SPEC, in_col="bytes", out_col="rgb_bytes")
        preds = t.call("raster.pseudo_inference", raster.pseudo_inference, rgb, in_col="rgb_bytes").select(
            "image_id", "w", "h", "minx", "miny", "maxx", "maxy", "pred_bytes"
        )
        masked = t.call("masking.mask_chain", masking.apply_mask_chain, preds, F.broadcast(self.qa))
        return t.call(
            "masking.mask_ocean", masking.mask_ocean,
            masked.filter(F.col("masked_bytes").isNotNull()), LAND,
            in_col="masked_bytes", out_col="final_bytes",
        )

    def op(self) -> dict:
        return self.job()

    def job(self) -> dict:
        t, ctx = self.ctx.tracer, self.ctx

        def polygons():
            final = self.chain(self.images)
            polys = t.call("vectorize", vectorize.vectorize, final, in_col="final_bytes", min_area=MIN_AREA)
            reg = t.call("regularize", regularize.regularize, polys, TECHNIQUE)
            with t.span("output"):
                return digest(
                    reg, ["image_id", "shape_idx", "geom_wkb", "reg_wkb"],
                    F.col("image_id").isin(self.sample_ids),
                    ["image_id", "shape_idx", "class", "geom_wkb", "reg_wkb"],
                )

        def chips():
            out = t.call("tiling.chip", tiling.chip_and_label, self.images, self.labels)
            with t.span("output"):
                return digest(
                    out, ["image_id", "win_col_off", "win_row_off", "chip_bytes", "chip_label_bytes"],
                    F.col("image_id") == F.lit(self.labelled_sample),
                    ["win_col_off", "win_row_off", "win_w", "win_h", "chip_bytes", "chip_label_bytes"],
                )

        out = run_steps({"reg": polygons, "chips": chips}, parallel=False)
        ctx.count("vectorize.polygons", out["reg"]["n"])
        ctx.count("tiling.windows", out["chips"]["n"])
        return {"images": IMAGES, "out": out}

    # ------------------------------------------------------------ checks

    def finish(self, ops: list[dict]) -> dict:
        """The once-per-run mask check."""
        try:
            self.check_masks()
        except AssertionError as exc:
            return {"attempted": 1, "failed": 1, "errors": [f"wrong output: {exc}"]}
        return {"attempted": 1}

    def prepare_oracles(self) -> None:
        """Single-node numpy twins of the chain for the sampled images."""
        if hasattr(self, "want_final"):
            return
        fp = footprints.with_footprint(self.images)
        rows = fp.filter(F.col("image_id").isin(self.sample_ids)).select(
            "image_id", "bytes", "minx", "miny", "maxx", "maxy"
        ).toPandas()
        qa = self.qa.filter(F.col("image_id").isin(self.sample_ids)).toPandas().set_index("image_id")
        self.want_final, self.want_polys = {}, {}
        for r in rows.itertuples(index=False):
            final = final_mask_twin(decode_image(bytes(r.bytes)), decode_image(bytes(qa.loc[r.image_id, "qa_bytes"])), r)
            self.want_final[r.image_id] = final
            self.want_polys[r.image_id] = [
                (
                    k, f["class"], wkb.dumps_polygon(f["rings"]),
                    wkb.dumps_polygon([regularize.adaptive_regularization(f["rings"][0])]),
                )
                for k, f in enumerate(vectorize.raster_to_polygons(final, 0.0, MIN_AREA))
            ]
        lab = self.labels.filter(F.col("image_id") == self.labelled_sample).first()
        img = self.images.filter(F.col("image_id") == self.labelled_sample).first()
        pix, mask = decode_image(bytes(img["bytes"])), decode_image(bytes(lab["label_bytes"]))
        ww, wh = min(tiling.WINDOW, img["w"]), min(tiling.WINDOW, img["h"])
        self.want_chips = sorted(
            (c0, r0, ww, wh,
             encode_image(raster.crop_window(pix, c0, r0, ww, wh), "raw"),
             encode_image(raster.crop_window(mask, c0, r0, ww, wh), "raw"))
            for c0 in tiling.window_offsets_oracle(img["w"])
            for r0 in tiling.window_offsets_oracle(img["h"])
        )
        labelled = self.images.join(self.labels.select("image_id"), "image_id").select("w", "h").collect()
        self.want_windows = sum(
            len(tiling.window_offsets_oracle(r["w"])) * len(tiling.window_offsets_oracle(r["h"]))
            for r in labelled
        )

    def check(self, out: dict) -> None:
        reg, chips = out["reg"], out["chips"]
        got: dict[str, list] = {i: [] for i in self.sample_ids}
        for r in reg["sample"]:
            got[r["image_id"]].append((r["shape_idx"], r["class"], bytes(r["geom_wkb"]), bytes(r["reg_wkb"])))
        for image_id, want in self.want_polys.items():
            require(sorted(got[image_id]) == want, f"polygons of {image_id} differ from raster_to_polygons")
        require(chips["n"] == self.want_windows, f"{chips['n']} chips, want {self.want_windows}")
        got_chips = sorted(
            (r["win_col_off"], r["win_row_off"], r["win_w"], r["win_h"], bytes(r["chip_bytes"]), bytes(r["chip_label_bytes"]))
            for r in chips["sample"]
        )
        require(got_chips == self.want_chips, f"chips of {self.labelled_sample} differ from crop_window")

    def check_masks(self) -> None:
        """The chain's masks for the sampled images against
        ``masking.mask_chain_oracle`` plus the ocean mask twin (one extra
        job over the sample)."""
        self.prepare_oracles()
        final = self.chain(self.images.filter(F.col("image_id").isin(self.sample_ids)))
        for r in final.select("image_id", "final_bytes").collect():
            require(
                np.array_equal(decode_image(bytes(r["final_bytes"])), self.want_final[r["image_id"]]),
                f"mask of {r['image_id']} differs from mask_chain_oracle",
            )

    def corrupt(self, out: dict) -> None:
        out["chips"]["n"] += 1

    # ------------------------------------------------- driver-side kernels

    def kernels(self) -> dict:
        """codecs.image decode/encode rate on the stored sample images,
        single-threaded in this process."""
        rows = self.images.filter(F.col("image_id").isin(self.sample_ids)).select("bytes", "fmt").collect()
        return codec_kernels([(bytes(r["bytes"]), r["fmt"]) for r in rows])


def _arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a datagen DDL string (string, binary, int, long)."""
    types = {"string": pa.string(), "binary": pa.binary(), "int": pa.int32(), "long": pa.int64()}
    return pa.schema([(n, types[t]) for n, t in (f.split() for f in ddl.split(", "))])


def codec_kernels(blobs: list[tuple[bytes, str]], repeat: int = 5) -> dict:
    arrays = [decode_image(b) for b, _ in blobs]
    t0 = time.perf_counter()
    for _ in range(repeat):
        for b, _fmt in blobs:
            decode_image(b)
    t1 = time.perf_counter()
    for _ in range(repeat):
        for a, (_b, fmt) in zip(arrays, blobs):
            encode_image(a, fmt if fmt in ("png", "jpeg", "raw") else "png", quality=90)
    t2 = time.perf_counter()
    n = len(blobs) * repeat
    return {
        "codecs.image.decode_s": (t1 - t0) / n,
        "codecs.image.decodes_per_s": n / (t1 - t0),
        "codecs.image.encode_s": (t2 - t1) / n,
    }


def final_mask_twin(pix: np.ndarray, qa: np.ndarray, r) -> np.ndarray:
    """make_rgb → pseudo_inference → mask_chain_oracle → ocean mask, on one
    image, in numpy."""
    rgb = pix[:, :, [s["index"] for s in SPEC]].astype(np.float32)
    pred = (rgb.mean(axis=2, keepdims=True) / 255.0 > 0.5).astype(np.float32)
    masked = masking.mask_chain_oracle(pred, qa)
    h, w = masked.shape[0], masked.shape[1]
    land = np.zeros((h, w), dtype=bool)
    if r.minx <= LAND_RING[:, 0].max() and r.maxx >= LAND_RING[:, 0].min():
        rings = masking._world_rings_to_pixel([LAND_RING], r.minx, r.miny, r.maxx, r.maxy, w, h)
        land |= vectorize.rasterize_polygons([(rings, 1.0)], (h, w), all_touched=False) > 0
    out = masked.astype(np.float32).copy()
    out[~land] = masking.NODATA
    return out
