"""Pieces shared by the workloads: run context, input ordinals, digests."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spans import Tracer


class Interrupted(RuntimeError):
    """Raised by the benchmark itself to cut a job short on purpose."""


class OutputMismatch(AssertionError):
    """A program output differs from its oracle."""


@dataclass
class Context:
    seed: int
    run_dir: Path
    spark: SparkSession | None = None  # set once the session is up
    tracer: Tracer | None = None
    sizes: dict = field(default_factory=dict)
    layer_counts: dict = field(default_factory=dict)

    def count(self, key: str, value: float) -> None:
        """Add to a per-layer count (recorded with tracing on and off)."""
        self.layer_counts[key] = self.layer_counts.get(key, 0) + value


def image_base(seed: int) -> int:
    """First image ordinal of a seed's inputs.  Seeds shift it by whole
    periods of the ``datagen`` patterns (image sizes repeat every 16
    ordinals, footprint longitudes every 360,000), so every seed gets the
    same mix of image sizes and of land and ocean images and differs in
    latitudes and pixel content.  Ordinals stay below 10^8."""
    return 1_000 + (seed % 128) * 720_000


def aoi_base(seed: int) -> int:
    """First AOI ordinal of a seed's inputs; AOI 0, the 40°×40° giant, is
    added to every seed's layers on top of these."""
    return 1 + (seed * 104_729) % 9_000


def require(cond: bool, what: str) -> None:
    if not cond:
        raise OutputMismatch(what)


def digest(df: DataFrame, key_cols: list[str], sample: Column, sample_cols: list[str],
           subset: Column | None = None) -> dict:
    """One action over ``df``: row count and an order-independent hash sum of
    ``key_cols``, the same over the rows matching ``subset``, and the rows
    matching ``sample`` (projected to ``sample_cols``) for oracle checks."""
    h = F.xxhash64(*key_cols).cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(h).alias("h"),
        F.collect_list(F.when(sample, F.struct(*sample_cols))).alias("sample"),
    ]
    if subset is not None:
        aggs += [F.count(F.when(subset, 1)).alias("n_sub"), F.sum(F.when(subset, h)).alias("h_sub")]
    row = df.agg(*aggs).first().asDict(recursive=True)
    for k in ("h", "h_sub"):
        if k in row and row[k] is None:
            row[k] = 0
    return row


def run_steps(steps: dict, parallel: bool) -> dict:
    """Run a job's independent steps one after another, or concurrently.
    Only warm-up jobs run concurrently: their JIT compilation and Python
    worker start-up overlap, which shortens set-up and changes no timed op."""
    if not parallel:
        return {name: step() for name, step in steps.items()}
    with ThreadPoolExecutor(len(steps)) as pool:
        futures = {name: pool.submit(step) for name, step in steps.items()}
        return {name: f.result() for name, f in futures.items()}
