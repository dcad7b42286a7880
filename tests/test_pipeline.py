"""Pipeline checkpoints, resume, metrics, lineage (FIXTURES T7)."""

import os
import warnings

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.operators import footprints, tiling
from geospatial_studio_pipelines_spark.plans.pipeline import Pipeline, Stage


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _stages(spark):
    calls = {"fp": 0, "cells": 0, "agg": 0}

    def fp(_):
        calls["fp"] += 1
        return footprints.with_footprint(datagen.images_df(spark, 100)).drop("bytes")

    def cells(df):
        calls["cells"] += 1
        return tiling.with_cell(df, res=6)

    def agg(df):
        calls["agg"] += 1
        return df.groupBy("cell_id").agg(F.count("*").alias("n"), F.min("image_id").alias("first_image"))

    return calls, [Stage("footprints", fp), Stage("cells", cells), Stage("cell_counts", agg)]


def _job_ids(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _assert_metrics_match_part_files(p, warehouse, job, stages):
    """Each (stage, partition_id) metrics row holds the footer row count and
    the stored size of that partition's committed part file."""
    m = p.metrics().toPandas()
    for stage in stages:
        d = os.path.join(warehouse, job, stage)
        files = {
            int(f.split("-")[1]): (pq.read_metadata(os.path.join(d, f)).num_rows, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if f.startswith("part-")
        }
        rows = m[(m["job_id"] == job) & (m["stage"] == stage)]
        assert rows["partition_id"].is_unique
        assert {r.partition_id: (r.rows, r.bytes) for r in rows.itertuples()} == files


def test_pipeline_runs_and_writes_tables(spark, warehouse):
    calls, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="job1")
    out = p.run(stages)
    assert out.count() > 0
    with warnings.catch_warnings():
        # the Arrow path must take the ledger's timestamps without falling back
        warnings.simplefilter("error", UserWarning)
        cps = p.checkpoints().collect()
    assert [r.stage for r in cps] == ["footprints", "cells", "cell_counts"]
    assert [r.snapshot_id for r in cps] == [1, 2, 3]
    m = p.metrics().toPandas()
    assert set(m["stage"]) == {"footprints", "cells", "cell_counts"}
    # per-partition lineage: one row per (stage, partition) with real counts
    fp_rows = m[m["stage"] == "footprints"]
    assert fp_rows["rows"].sum() == 100
    assert (fp_rows["bytes"] > 0).all()
    assert fp_rows["partition_id"].is_unique
    _assert_metrics_match_part_files(p, warehouse, "job1", ["footprints", "cells", "cell_counts"])


def test_run_stage_launches_only_its_write(spark, warehouse):
    """A shuffle-free stage costs one Spark job, the write, and its plan has
    no pass-through Python operator; the read-back launches nothing."""
    _, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobW")
    fp = p.run_stage(stages[0], None)
    before = _job_ids(spark)
    p.run_stage(stages[1], fp)
    new = _job_ids(spark) - before
    assert len(new) == 1
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription() for i in range(execs.size())
        if execs.apply(i).jobs().contains(next(iter(new)))
    ]
    assert len(plans) == 1 and "MapInPandas" not in plans[0]


def test_metrics_exact_after_crash_between_metrics_and_ledger(spark, warehouse, monkeypatch):
    """The ledger write of 'cells' fails once; the resumed job re-runs the
    stage and its metrics rows still equal the committed part files, once."""
    commit, failed = Pipeline._commit, []

    def flaky_commit(self, stage, *args, **kwargs):
        if stage == "cells" and not failed:
            failed.append(stage)
            raise OSError("ledger write failed")
        return commit(self, stage, *args, **kwargs)

    monkeypatch.setattr(Pipeline, "_commit", flaky_commit)
    _, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobC")
    with pytest.raises(OSError, match="ledger write failed"):
        p.run(stages)
    assert not p.committed("cells")

    calls, stages2 = _stages(spark)
    p2 = Pipeline(spark, warehouse, job_id="jobC")
    p2.run(stages2)
    assert calls == {"fp": 0, "cells": 1, "agg": 1}
    _assert_metrics_match_part_files(p2, warehouse, "jobC", ["footprints", "cells", "cell_counts"])


def test_pipeline_resume_skips_committed_and_is_byte_identical(spark, warehouse):
    calls, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobR")
    # run only the first two stages, then "crash"
    df = p.run_stage(stages[0], None)
    p.run_stage(stages[1], df)
    assert calls == {"fp": 1, "cells": 1, "agg": 0}

    def file_bytes(stage):
        d = os.path.join(warehouse, "jobR", stage)
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = fh.read()
        return out

    before = file_bytes("cells")

    # relaunch: fresh Pipeline object, same job — committed stages are skipped
    calls2, stages2 = _stages(spark)
    p2 = Pipeline(spark, warehouse, job_id="jobR")
    jobs = _job_ids(spark)
    df = p2.run_stage(stages2[1], p2.run_stage(stages2[0], None))
    assert _job_ids(spark) == jobs  # read with the ledger's schema: no inference job
    out = p2.run_stage(stages2[2], df)
    assert calls2 == {"fp": 0, "cells": 0, "agg": 1}  # resume skipped 1+2
    assert file_bytes("cells") == before  # untouched committed snapshot
    assert out.count() > 0

    # full rerun is a no-op producing identical final data
    calls3, stages3 = _stages(spark)
    p3 = Pipeline(spark, warehouse, job_id="jobR")
    out2 = p3.run(stages3)
    assert calls3 == {"fp": 0, "cells": 0, "agg": 0}
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_pipeline_distinct_jobs_isolated(spark, warehouse):
    _, stages = _stages(spark)
    Pipeline(spark, warehouse, "jobA").run(stages[:1])
    calls_b, stages_b = _stages(spark)
    Pipeline(spark, warehouse, "jobB").run(stages_b[:1])
    assert calls_b["fp"] == 1  # different job id does not reuse jobA's snapshot


def test_backend_auto_resolves_parquet_without_jars(spark, warehouse):
    """No iceberg-spark-runtime in this sandbox: backend='auto' must pick
    the parquet-ledger emulation, and iceberg_available must say why."""
    from geospatial_studio_pipelines_spark.plans.pipeline import iceberg_available

    assert iceberg_available(spark) is False
    p = Pipeline(spark, warehouse, job_id="jobAuto")
    assert p.backend == "parquet"


def test_backend_iceberg_forced_without_jars_errors(spark, warehouse):
    import pytest

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        Pipeline(spark, warehouse, job_id="jobIce", backend="iceberg")
