"""Checkpointed, resumable multi-stage pipelines with per-partition lineage
and metrics (SURVEY.md §2.9, §3.2).

What the reference does with a Postgres task table + JSONB step status
machine (READY→RUNNING→FINISHED, ``orchestrate_wrapper.py:170-282``) and
per-task config files, the engine does with:

* **stages** — named ``DataFrame -> DataFrame`` functions (the CLAIMED
  component analog, SURVEY §2.10), composed by ``run_pipeline``
* **snapshot checkpoints** — two interchangeable backends behind
  ``Pipeline(backend=...)``:

  - ``"parquet"`` (the default everywhere jars are absent): each stage's
    output is committed atomically (write to a temp dir, fsync,
    ``os.rename``) and recorded in a ledger with a monotonically increasing
    ``snapshot_id`` — Iceberg's snapshot-commit atomicity contract without
    JVM extension jars, so ``spark-submit --py-files`` stays sufficient.
  - ``"iceberg"``: stage outputs land as real Iceberg tables via
    ``df.writeTo(<catalog>.<ns>.<job>__<stage>).createOrReplace()`` and the
    ledger records the CATALOG's snapshot id (read back from the table's
    ``.snapshots`` metadata). Activated when ``backend="auto"`` finds
    ``iceberg-spark-runtime`` on the classpath AND the target catalog named
    by ``$SPARK_GRAFT_ICEBERG_CATALOG`` (default ``spark_catalog``) is an
    Iceberg SparkCatalog; this sandbox has no jars, so auto resolves to
    parquet here and the iceberg branch is exercised by a forced-mode
    error-path test.
* **resume** — a rerun of the same job id skips every stage whose ledger
  entry and committed output exist; outputs are byte-stable because every
  generator/operator is a pure function of its input (no wall clock, no
  unseeded RNG — SURVEY §7.4.5)
* **per-partition metrics** — read from the committed part files (parquet
  footer ``rows``, stored ``bytes``, ``part-NNNNN`` → ``partition_id``;
  Iceberg: the ``files`` metadata table), so a stage runs as its own write
  and nothing else. ``run_stage`` writes ``(job_id, stage, partition_id, rows,
  bytes, wall_ms, ts)`` rows to ``metrics/part-<job>__<stage>.parquet``
  before the ledger entry, which pins the output schema for every
  read-back; a crash between the two re-runs the stage and overwrites that
  file (replaces ``metrics.py:13-88``'s OpenTelemetry histogram).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

METRICS_SCHEMA = (
    "job_id string, stage string, partition_id int, rows long, bytes long, "
    "wall_ms double, ts timestamp"
)
_METRICS_ARROW = pa.schema([
    ("job_id", pa.string()), ("stage", pa.string()), ("partition_id", pa.int32()),
    ("rows", pa.int64()), ("bytes", pa.int64()), ("wall_ms", pa.float64()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
CHECKPOINT_SCHEMA = "job_id string, stage string, snapshot_id long, committed_at timestamp"
_PART_ID = re.compile(r"^(?:part-)?(\d+)-")  # Spark part-00003-<uuid>…, Iceberg 00003-<task>-…


def _atomic_write(path: str, write: Callable, mode: str = "w") -> None:
    """Write through a hidden temp name, fsync, then rename into place."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, mode) as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when iceberg-spark-runtime is on the classpath AND ``catalog``
    (default $SPARK_GRAFT_ICEBERG_CATALOG or ``spark_catalog``) is
    configured as an Iceberg SparkCatalog/SparkSessionCatalog."""
    catalog = catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog")
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:  # noqa: BLE001 — absence of the jar IS the signal
        return False
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in impl.lower()


class _IcebergSnapshots:
    """Stage-output storage through a real Iceberg catalog: writeTo +
    catalog snapshot ids. Table per (job, stage): ``<catalog>.<ns>.<job>__
    <stage>`` (namespace $SPARK_GRAFT_ICEBERG_NS, default ``gsp``)."""

    def __init__(self, spark: SparkSession, job_id: str, catalog: str | None = None):
        self.spark = spark
        self.catalog = catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog")
        self.ns = os.environ.get("SPARK_GRAFT_ICEBERG_NS", "gsp")
        self.job_id = job_id
        if not iceberg_available(spark, self.catalog):
            raise RuntimeError(
                f"backend='iceberg' requires iceberg-spark-runtime on the "
                f"classpath and spark.sql.catalog.{self.catalog} set to an "
                "Iceberg catalog — launch with --packages "
                "org.apache.iceberg:iceberg-spark-runtime-<ver> or use "
                "backend='parquet'"
            )
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.ns}")

    def _table(self, stage: str) -> str:
        safe = "".join(c if c.isalnum() else "_" for c in f"{self.job_id}__{stage}")
        return f"{self.catalog}.{self.ns}.{safe}"

    def committed(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage))

    def read(self, stage: str, schema: StructType) -> DataFrame:
        return self.spark.read.table(self._table(stage))  # the catalog holds the schema

    def files(self, stage: str) -> list[tuple[str, int, int]]:
        return [tuple(r) for r in self.spark.sql(
            f"SELECT file_path, record_count, file_size_in_bytes FROM {self._table(stage)}.files"
        ).collect()]

    def write(self, df: DataFrame, stage: str) -> int:
        tbl = self._table(stage)
        df.writeTo(tbl).using("iceberg").createOrReplace()  # atomic catalog commit
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return int(snap["snapshot_id"])


class _ParquetSnapshots:
    """Jar-free fallback with the same atomicity contract: temp dir →
    fsync'd ledger entry → os.rename. Snapshot ids are ledger-monotonic."""

    def __init__(self, pipeline: "Pipeline"):
        self.p = pipeline

    def committed(self, stage: str) -> bool:
        out = self.p._stage_path(stage)
        return os.path.exists(os.path.join(out, "_SUCCESS"))

    def read(self, stage: str, schema: StructType) -> DataFrame:
        return self.p.spark.read.schema(schema).parquet(self.p._stage_path(stage))

    def files(self, stage: str) -> list[tuple[str, int, int]]:
        """(path, rows, stored bytes) of each committed part file."""
        out = self.p._stage_path(stage)
        paths = [os.path.join(out, f) for f in sorted(os.listdir(out)) if f.startswith("part-")]
        return [(f, pq.read_metadata(f).num_rows, os.path.getsize(f)) for f in paths]

    def write(self, df: DataFrame, stage: str) -> int | None:
        out_path = self.p._stage_path(stage)
        tmp_path = out_path + "__tmp"
        if os.path.exists(tmp_path):
            shutil.rmtree(tmp_path)
        df.write.mode("overwrite").parquet(tmp_path)
        if os.path.exists(out_path):
            shutil.rmtree(out_path)
        os.rename(tmp_path, out_path)  # atomic snapshot commit
        return None  # ledger assigns the monotonic id


class Pipeline:
    """Compose and run stages with checkpoint/resume over a warehouse dir.

    ``backend="auto"`` uses a real Iceberg catalog when one is configured
    (see ``iceberg_available``) and the parquet-ledger emulation otherwise;
    ``"parquet"``/``"iceberg"`` force a mode."""

    def __init__(self, spark: SparkSession, warehouse: str, job_id: str,
                 backend: str = "auto"):
        self.spark = spark
        self.warehouse = warehouse
        self.job_id = job_id
        os.makedirs(self._ledger_dir, exist_ok=True)
        if backend == "auto":
            backend = "iceberg" if iceberg_available(spark) else "parquet"
        self.backend = backend
        self._store = (
            _IcebergSnapshots(spark, job_id) if backend == "iceberg"
            else _ParquetSnapshots(self)
        )

    # ------------------------------------------------------------ paths

    @property
    def _ledger_dir(self) -> str:
        return os.path.join(self.warehouse, "_ledger")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, self.job_id, stage)

    def _ledger_path(self, stage: str) -> str:
        return os.path.join(self._ledger_dir, f"{self.job_id}__{stage}.json")

    # ------------------------------------------------------------ ledger

    def committed(self, stage: str) -> bool:
        return os.path.exists(self._ledger_path(stage)) and self._store.committed(stage)

    def _commit(self, stage: str, wall_ms: float, schema: StructType,
                snapshot_id: int | None = None) -> int:
        if snapshot_id is None:
            snapshot_id = len(os.listdir(self._ledger_dir)) + 1
        entry = {
            "job_id": self.job_id,
            "stage": stage,
            "snapshot_id": snapshot_id,
            "committed_at": time.time(),
            "wall_ms": wall_ms,
            "schema": schema.jsonValue(),
        }
        _atomic_write(self._ledger_path(stage), lambda f: json.dump(entry, f))  # atomic transition analog
        return snapshot_id

    def _write_metrics(self, stage: str, wall_ms: float) -> None:
        """One row per partition of the committed output, written to a file
        named by (job, stage) so that a re-run replaces it."""
        parts: dict[int, tuple[int, int]] = {}
        for path, rows, nbytes in self._store.files(stage):
            pid = int(_PART_ID.match(os.path.basename(path)).group(1))
            r, b = parts.get(pid, (0, 0))
            parts[pid] = (r + rows, b + nbytes)
        ts = datetime.now(timezone.utc)
        table = pa.Table.from_pylist([
            {"job_id": self.job_id, "stage": stage, "partition_id": pid, "rows": r,
             "bytes": b, "wall_ms": wall_ms, "ts": ts}
            for pid, (r, b) in sorted(parts.items())
        ], schema=_METRICS_ARROW)
        metrics_dir = os.path.join(self.warehouse, "metrics")
        os.makedirs(metrics_dir, exist_ok=True)
        path = os.path.join(metrics_dir, f"part-{self.job_id}__{stage}.parquet")
        _atomic_write(path, lambda f: pq.write_table(table, f), "wb")

    # -------------------------------------------------------------- run

    def run_stage(self, stage: Stage, inp: DataFrame | None) -> DataFrame:
        if self.committed(stage.name):
            with open(self._ledger_path(stage.name)) as f:
                return self._store.read(stage.name, StructType.fromJson(json.load(f)["schema"]))
        t0 = time.time()
        out = stage.fn(inp)
        snapshot_id = self._store.write(out, stage.name)
        wall_ms = (time.time() - t0) * 1000.0
        self._write_metrics(stage.name, wall_ms)
        self._commit(stage.name, wall_ms, out.schema, snapshot_id)
        return self._store.read(stage.name, out.schema)

    def run(self, stages: list[Stage], source: DataFrame | None = None) -> DataFrame:
        cur = source
        for st in stages:
            cur = self.run_stage(st, cur)
        return cur

    # ----------------------------------------------------------- tables

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(os.path.join(self.warehouse, "metrics"))

    def checkpoints(self) -> DataFrame:
        entries = []
        for f in sorted(os.listdir(self._ledger_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self._ledger_dir, f)) as fh:
                    entries.append(json.load(fh))
        pdf = pd.DataFrame(
            entries, columns=["job_id", "stage", "snapshot_id", "committed_at", "wall_ms"]
        ).sort_values("snapshot_id")
        # whole microseconds, or Arrow refuses the cast and createDataFrame falls back
        pdf["committed_at"] = pd.to_datetime(pdf["committed_at"], unit="s").dt.floor("us")
        return self.spark.createDataFrame(pdf[["job_id", "stage", "snapshot_id", "committed_at"]], CHECKPOINT_SCHEMA)
