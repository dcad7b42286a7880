"""ingest_resume: incremental ingestion, commits beside reads (the first
half of each ``ingest_raster`` op).

Small batches of encoded objects arrive, each with a JSON sidecar (id,
phash, caption); every batch holds poisoned objects and planted
near-duplicates of the persisted phash index built in set-up.  Each batch is
one ``plans.pipeline.Pipeline`` job on the parquet backend:

1. ``ingest``    — ``sources.ingest.read_binary_dir`` validity gate + sidecar
2. ``cells``     — footprints and adaptive cell of the valid objects
3. ``aoi_pairs`` — ``spatial_join.broadcast_spatial_join`` against 200 AOIs
4. ``near_dups`` — ``hamming_index.probe_hamming_index``

then ``append_hamming_index`` folds the batch into the index and
``compact_hamming_index`` rewrites it.  (A run times only a few batches, so
compaction runs after every batch to be measured in each.)  The warm-up runs
batch 0 as a job that is made to fail in its last stage; it is re-run under
the same job id before the timed batches, the first of which processes the
same inputs uninterrupted.
"""

from __future__ import annotations

import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Context, Interrupted, aoi_base, image_base, require

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.operators import footprints, hamming_index, spatial_join, tiling
from geospatial_studio_pipelines_spark.plans.pipeline import Pipeline, Stage
from geospatial_studio_pipelines_spark.sources import ingest

OBJECTS = 10  # per batch, of which:
POISONED = 1  # undecodable (garbage or a truncated image)
PLANTED = 2  # sidecar phash within hamming 1..3 of an indexed phash
CORPUS = 2_000
AOIS = 200
BUCKETS = 8
MAX_HAMMING = 3
TABLE = "perfbench_phash_index"
SIDECAR_SCHEMA = "image_id string, phash long, caption string"
STAGES = ("ingest", "cells", "aoi_pairs", "near_dups")


def phash_of(i: int) -> int:
    return (i * 2654435761) % (2**63)


class IngestResume:
    name = "ingest_resume"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.base = image_base(ctx.seed)
        self.corpus_base = self.base + 10_000_000
        self.aoi0 = aoi_base(ctx.seed)
        self.rng = random.Random(ctx.seed)
        self.next_batch = 0
        self.root = ctx.run_dir / "ingest"
        self.warehouse = str(self.root / "warehouse")
        self.index_path = str(self.root / "index")
        ctx.sizes.update(
            objects_per_batch=OBJECTS, poisoned_per_batch=POISONED, planted_per_batch=PLANTED,
            corpus=CORPUS, aois=AOIS, index_buckets=BUCKETS,
            image_ordinal_base=self.base, aoi_ordinal_base=self.aoi0,
        )

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        corpus = pd.DataFrame({
            "image_id": [f"img-{i:08d}" for i in range(self.corpus_base, self.corpus_base + CORPUS)],
            "phash": [phash_of(i) for i in range(self.corpus_base, self.corpus_base + CORPUS)],
        })
        self.corpus = corpus
        self.indexed = dict(zip(corpus["image_id"], corpus["phash"]))
        self.aois = pd.DataFrame(
            [datagen.aoi_row(0)] + [datagen.aoi_row(j) for j in range(self.aoi0, self.aoi0 + AOIS - 1)]
        )
        self.first = self.arrive(0)
        self.plain_write_s = self.run_stage_s = 0.0

    def setup(self) -> None:
        # the warm-up job does not probe the index (its last stage fails
        # first), so it runs while the index is built
        self._pool = ThreadPoolExecutor(1)
        self._warm = self._pool.submit(self.run_job, "resume", self.first, fail_last=True)
        t0 = time.perf_counter()
        hamming_index.write_hamming_index(
            self.ctx.spark.createDataFrame(self.corpus, "image_id string, phash long"), TABLE,
            self.index_path, hash_col="phash", id_col="image_id", buckets=BUCKETS,
            max_hamming=MAX_HAMMING,
        )
        self.build_s = time.perf_counter() - t0

    def warmup(self) -> None:
        """Batch 0 as job ``resume``, made to fail in its last stage (started
        in ``setup``)."""
        try:
            self._warm.result()
        finally:
            self._pool.shutdown()

    def resume(self) -> dict:
        """Re-run the interrupted job under the same job id.  The index has
        not changed since, so its outputs must equal those of the
        uninterrupted first timed batch, which reads the same inputs."""
        t0 = time.perf_counter()
        again = self.run_job("resume", self.first)
        return {"pipeline.resume_s": time.perf_counter() - t0,
                "pipeline.resume_skip_s": sum(again["times"][s] for s in STAGES[:-1])}

    # ----------------------------------------------------------- batches

    def arrive(self, b: int) -> dict:
        """Write batch ``b``'s objects and sidecar; return what was planted."""
        d = self.root / "batches" / f"b{b:04d}"
        (d / "objects").mkdir(parents=True)
        ids, side, poisoned, planted = [], [], set(), {}
        corpus_ids = sorted(self.indexed)
        for k in range(OBJECTS):
            i = self.base + b * OBJECTS + k
            row = datagen.image_row(i)
            blob, phash = row["bytes"], row["phash"]
            if k < POISONED:
                blob = blob[: len(blob) // 2] if b % 2 else bytes(self.rng.randrange(256) for _ in range(300))
                poisoned.add(row["image_id"])
            elif k < POISONED + PLANTED:
                target = corpus_ids[self.rng.randrange(len(corpus_ids))]
                flips = self.rng.sample(range(63), self.rng.randint(1, MAX_HAMMING))
                phash = self.indexed[target] ^ sum(1 << f for f in flips)
                planted[row["image_id"]] = target
            (d / "objects" / f"{row['image_id']}.{row['fmt']}").write_bytes(blob)
            ids.append(row["image_id"])
            side.append({"image_id": row["image_id"], "phash": phash, "caption": row["caption"]})
        with open(d / "sidecar.json", "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in side))
        nbytes = sum(f.stat().st_size for f in (d / "objects").iterdir()) + (d / "sidecar.json").stat().st_size
        return {"dir": d, "ids": ids, "poisoned": poisoned, "planted": planted,
                "phash": {r["image_id"]: r["phash"] for r in side}, "bytes": nbytes}

    def stages(self, meta: dict, outs: dict, fail_last: bool = False) -> list[Stage]:
        """The four stages; later ones read earlier committed outputs from
        ``outs``, which the caller fills as stages commit."""
        spark, t = self.ctx.spark, self.ctx.tracer

        def ingest_fn(_):
            files = t.call("sources.ingest.read", ingest.read_binary_dir, spark, str(meta["dir"] / "objects"))
            if t.enabled:
                with t.span("trace.counts"):
                    r = files.agg(F.count("*").alias("n"), F.count(F.when(F.col("fmt") == "invalid", 1)).alias("bad")).first()
                self.ctx.count("sources.ingest.files", r["n"])
                self.ctx.count("sources.ingest.invalid", r["bad"])
                self.ctx.count("sources.ingest.bytes", meta["bytes"])
            side = spark.read.schema(SIDECAR_SCHEMA).json(str(meta["dir"] / "sidecar.json"))
            return files.select("image_id", "w", "h", "fmt", F.length("bytes").alias("n_bytes")).join(
                side, "image_id", "left"
            )

        def cells_fn(df):
            valid = df.filter(F.col("fmt") != "invalid")
            return t.call("tiling.with_cell", lambda: tiling.with_cell(footprints.with_footprint(valid)))

        def pairs_fn(cells):
            if t.enabled:
                with t.span("spatial_join.pack_aois"):
                    spatial_join.pack_aois(self.aois)
            return t.call("spatial_join.broadcast", spatial_join.broadcast_spatial_join, cells, self.aois)

        def near_dups_fn(_):
            if fail_last:
                raise Interrupted("near_dups stage made to fail")
            probe = outs["cells"].select("image_id", "phash")
            return t.call(
                "hamming_index.probe", hamming_index.probe_hamming_index,
                spark, TABLE, self.index_path, probe,
            )

        return [Stage("ingest", ingest_fn), Stage("cells", cells_fn),
                Stage("aoi_pairs", pairs_fn), Stage("near_dups", near_dups_fn)]

    def run_job(self, job_id: str, meta: dict, fail_last: bool = False, timed: bool = False) -> dict:
        """Run the four stages as one Pipeline job; return the committed
        outputs and each run_stage call's wall time.  For a timed batch of a
        traced run, also time a plain parquet write of each stage's output."""
        t = self.ctx.tracer
        p = Pipeline(self.ctx.spark, self.warehouse, job_id, backend="parquet")
        cur, outs, times = None, {}, {}
        for st in self.stages(meta, outs, fail_last):
            prev = cur
            t0 = time.perf_counter()
            with t.span(f"pipeline.run_stage.{st.name}"):
                cur = outs[st.name] = p.run_stage(st, cur)
            times[st.name] = time.perf_counter() - t0
            if t.enabled and timed:
                self.run_stage_s += times[st.name]
                with t.paused():
                    t1 = time.perf_counter()
                    st.fn(prev).write.mode("overwrite").parquet(str(self.root / "plain" / st.name))
                    self.plain_write_s += time.perf_counter() - t1
        return {"outs": outs, "times": times}

    def expected_pairs(self, meta: dict) -> set:
        """(probe, corpus) pairs within MAX_HAMMING among the current index
        contents, by brute force."""
        ids = np.array(list(self.indexed))
        hashes = np.array(list(self.indexed.values()), dtype=np.int64).view(np.uint64)
        out = set()
        for image_id in meta["ids"]:
            if image_id in meta["poisoned"]:
                continue
            x = hashes ^ np.uint64(np.int64(meta["phash"][image_id]).view(np.uint64))
            dist = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            out |= {(image_id, c) for c in ids[dist <= MAX_HAMMING]}
        return out

    def op(self) -> dict:
        t, spark = self.ctx.tracer, self.ctx.spark
        b = self.next_batch
        self.next_batch += 1
        meta = self.first if b == 0 else self.arrive(b)
        expected = self.expected_pairs(meta)
        job_id = f"batch-{b:04d}"
        t0 = time.perf_counter()
        job = self.run_job(job_id, meta, timed=True)
        job_s = time.perf_counter() - t0
        valid = job["outs"]["cells"].select("image_id", "phash")
        t.call("hamming_index.append", hamming_index.append_hamming_index, valid, TABLE, self.index_path)
        self.ctx.count("hamming_index.bytes_rewritten", _tree_bytes(self.index_path))
        t.call("hamming_index.compact", hamming_index.compact_hamming_index, spark, TABLE, self.index_path)
        latency = time.perf_counter() - t0
        for image_id in meta["ids"]:
            if image_id not in meta["poisoned"]:
                self.indexed[image_id] = meta["phash"][image_id]
        self.ctx.count("pipeline.bytes_written", _tree_bytes(os.path.join(self.warehouse, job_id)))
        self.ctx.count("pipeline.bytes_read", meta["bytes"])
        return {"images": OBJECTS, "job_s": job_s, "latency_s": latency,
                "out": {"job": job_id, "meta": meta, "expected": expected}}

    # ------------------------------------------------------------ checks

    def committed(self, job: str, stage: str) -> list[dict]:
        """A committed stage output, read from its parquet files, sorted."""
        rows = pq.read_table(os.path.join(self.warehouse, job, stage)).to_pylist()
        return sorted(rows, key=lambda r: tuple(map(str, r.values())))

    def prepare_oracles(self) -> None:
        """Read the committed outputs and the metrics table (driver-side,
        from the parquet files)."""
        jobs = [j for j in os.listdir(self.warehouse) if j not in ("_ledger", "metrics")]
        out = {j: {s: self.committed(j, s) for s in STAGES} for j in jobs if self.complete(j)}
        self.invalid = {j: {r["image_id"] for r in o["ingest"] if r["fmt"] == "invalid"} for j, o in out.items()}
        self.pairs = {j: {(r["probe_id"], r["corpus_id"]) for r in o["near_dups"]} for j, o in out.items()}
        metered: dict = {}
        for r in pq.read_table(os.path.join(self.warehouse, "metrics")).to_pylist():
            key = (r["job_id"], r["stage"])
            metered[key] = metered.get(key, 0) + r["rows"]
        committed = {(j, s): len(rows) for j, o in out.items() for s, rows in o.items()}
        self.metric_mismatches = {
            k for k in set(committed) | set(metered) if committed.get(k, 0) != metered.get(k, 0)
        }
        self.resume_errors = [
            f"resumed job's {s} output differs from an uninterrupted run's"
            for s in STAGES if out.get("resume", {}).get(s) != out.get("batch-0000", {}).get(s)
        ] + [f"metrics-table rows differ from committed rows for {k}"
             for k in sorted(self.metric_mismatches) if k[0] == "resume"]

    def complete(self, job: str) -> bool:
        return all(os.path.exists(os.path.join(self.warehouse, job, s, "_SUCCESS")) for s in STAGES)

    def finish(self, ops: list[dict]) -> dict:
        """The resumed job's check and the index and pipeline counts."""
        self.prepare_oracles()
        found = planted = 0
        for r in ops:
            if r["out"] is not None:
                planted_pairs = set(r["out"]["meta"]["planted"].items())
                planted += len(planted_pairs)
                found += len(planted_pairs & self.pairs.get(r["out"]["job"], set()))
        files = [f for f in os.listdir(self.index_path) if f.startswith("part-")]
        return {
            "attempted": 1, "failed": int(bool(self.resume_errors)), "errors": self.resume_errors,
            "hamming_index.build_s": self.build_s,
            "hamming_index.files": len(files),
            "hamming_index.pairs": sum(len(self.pairs.get(r["out"]["job"], ())) for r in ops if r["out"]),
            "hamming_index.recall": found / max(planted, 1),
            "pipeline.overhead_s": self.run_stage_s - self.plain_write_s,
            "pipeline.bytes_written_per_input_byte": (
                self.ctx.layer_counts.get("pipeline.bytes_written", 0)
                / max(self.ctx.layer_counts.get("pipeline.bytes_read", 0), 1)
            ),
            "pipeline.metrics_rows_match": float(not self.metric_mismatches),
        }

    def check(self, out: dict) -> None:
        job, meta = out["job"], out["meta"]
        got_bad = self.invalid.get(job, set())
        require(got_bad == meta["poisoned"], f"{job}: invalid {sorted(got_bad)}, poisoned {sorted(meta['poisoned'])}")
        got = self.pairs.get(job, set())
        require(got == out["expected"], f"{job}: near-dup pairs {sorted(got ^ out['expected'])[:4]} differ from brute force")
        bad = sorted(k for k in self.metric_mismatches if k[0] == job)
        require(not bad, f"{job}: metrics-table rows differ from committed rows for {bad}")

    def kernels(self) -> dict:
        """geo kernels on the first batch's footprints against its AOIs."""
        from catalog_join import geo_kernels

        cells = pq.read_table(os.path.join(self.warehouse, "batch-0000", "cells"))
        boxes = np.column_stack([cells[c].to_numpy() for c in ("minx", "miny", "maxx", "maxy")])
        return geo_kernels(boxes, self.aois)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)

