"""ingest_raster: incremental ingestion followed by the per-image raster chain.

One timed op is one arriving batch, end to end: the ``ingest_resume`` batch
(a four-stage ``plans.pipeline.Pipeline`` job, then index append and
compaction) and then the ``raster_chain`` job over the stored images
(make_rgb → … → regularize, plus chip_and_label).  The two parts are the
modules ``ingest_resume`` and ``raster_chain``; this class runs them as one
workload, so that a run holds enough timed ops for steady medians while every
layer of both is measured.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from common import Context
from ingest_resume import IngestResume
from raster_chain import RasterChain


class IngestRaster:
    name = "ingest_raster"

    def __init__(self, ctx: Context):
        self.ingest = IngestResume(ctx)
        self.raster = RasterChain(ctx)

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        self.ingest.prepare()
        self.raster.prepare()

    def setup(self) -> None:
        """One raster job runs in a thread while, in another, the ingest job
        fails in its last stage and, here, the index is built.  Without that
        raster job the first timed op's raster half ran 10-20% slower than
        the second's; run after the others, it added 6 s to set-up."""
        self.raster.setup()
        self._pool = ThreadPoolExecutor(1)
        self._raster_warm = self._pool.submit(self.raster.job)
        self.ingest.setup()

    def warmup(self) -> None:
        try:
            self._raster_warm.result()
        finally:
            self._pool.shutdown()
            self.ingest.warmup()  # raises Interrupted: near_dups is made to fail

    def resume(self) -> dict:
        return self.ingest.resume()

    # --------------------------------------------------------------- job

    def op(self) -> dict:
        a = self.ingest.op()
        t0 = time.perf_counter()
        r = self.raster.job()
        raster_s = time.perf_counter() - t0
        return {
            "images": a["images"] + r["images"],
            "job_s": a["job_s"] + raster_s,
            "latency_s": a["latency_s"] + raster_s,
            "parts_s": {"ingest": a["latency_s"], "raster": raster_s},
            "out": {"ingest": a["out"], "raster": r["out"]},
        }

    # ------------------------------------------------------------ checks

    def prepare_oracles(self) -> None:
        self.ingest.prepare_oracles()
        self.raster.prepare_oracles()

    def check(self, out: dict) -> None:
        self.ingest.check(out["ingest"])
        self.raster.check(out["raster"])

    def finish(self, ops: list[dict]) -> dict:
        parts = [
            self.ingest.finish([{**r, "out": r["out"] and r["out"]["ingest"]} for r in ops]),
            self.raster.finish(ops),
        ]
        out = {"attempted": 0, "failed": 0, "errors": []}
        for part in parts:
            out["attempted"] += part.pop("attempted", 0)
            out["failed"] += part.pop("failed", 0)
            out["errors"] += part.pop("errors", [])
            out.update(part)
        return out

    def corrupt(self, out: dict) -> None:
        self.raster.corrupt(out["raster"])

    def kernels(self) -> dict:
        """geo kernels on the first batch's footprints, codec kernels on the
        raster sample."""
        return {**self.ingest.kernels(), **self.raster.kernels()}
