"""Write-side steps submit no job they do not need.

* A frame re-read right after it was written is read with the schema it
  was written with: a schema-less parquet read submits a
  schema-inference job, a read with ``spark.read.schema(...)`` submits
  none and yields the same schema and rows. Pinned at both call sites,
  the sinks' ``stage_and_release`` and ``IncrementalPipeline.run_year``.
* ``Versioner.create_version`` computes the manifest's row count and
  checksum in one aggregate that agrees with ``df.count()`` and
  ``content_checksum(df)``.
"""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import DataFrameReader

from hadoop_data_pipeline_spark import pipeline
from hadoop_data_pipeline_spark.fs import FS
from hadoop_data_pipeline_spark.streaming.dedup_sink import stage_and_release
from hadoop_data_pipeline_spark.versioning import Versioner, content_checksum
from tests.test_integration_medallion import WIDE_COLS, _write_year


def _job_ids(sc) -> set[int]:
    """Jobs of the current job group, once the listener bus has caught
    up (the status store is fed asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    group = sc.getLocalProperty("spark.jobGroup.id")
    return set(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def parquet_reads(spark, monkeypatch):
    """Record ``(path, jobs submitted, frame)`` for every
    ``DataFrameReader.parquet`` call made under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(f"reads-{uuid.uuid4().hex}", "parquet re-read job count")
    real = DataFrameReader.parquet
    reads = []

    def counting(self, *paths, **options):
        before = _job_ids(sc)
        out = real(self, *paths, **options)
        reads.append((paths[0], len(_job_ids(sc) - before), out))
        return out

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    yield reads
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _same_as_schemaless_read(spark, path, frame) -> None:
    plain = spark.read.parquet(path)
    assert frame.schema == plain.schema
    assert sorted(frame.collect()) == sorted(plain.collect())


def test_schemaless_read_submits_inference_job(spark, tmp_path, parquet_reads):
    """The measurement can see the job the fix removes."""
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    spark.read.parquet(path)
    assert parquet_reads[-1][1] == 1


def test_stage_and_release_reread_submits_no_job(
    spark, tmp_path, parquet_reads
):
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 1.5)], "doc_id bigint, text string, s double"
    )
    staging = str(tmp_path / "staging")
    staged, release = stage_and_release(df, staging)
    (path, jobs, frame), = parquet_reads
    assert path == staging and frame is staged
    assert jobs == 0
    _same_as_schemaless_read(spark, staging, staged)
    release()


def test_run_year_wide_reread_submits_no_job(spark, tmp_path, parquet_reads):
    _write_year(tmp_path, 2024, 120.0)
    wide = str(tmp_path / "wide")
    p = pipeline.IncrementalPipeline(
        spark,
        str(tmp_path / "raw"),
        wide,
        str(tmp_path / "long"),
        expected_columns=WIDE_COLS,
    )
    (year, files), = p.discover().items()
    assert p.run_year(year, files).passed
    wide_reads = [r for r in parquet_reads if r[0] == f"{wide}/year=2024"]
    assert [jobs for _, jobs, _ in wide_reads] == [0]
    _same_as_schemaless_read(spark, f"{wide}/year=2024", wide_reads[0][2])


def test_create_version_manifest_matches_count_and_checksum(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", None, 1.0), ("a", "b", None), (None, "b", 1.0), ("a", "b", 1.0)],
        "c1 string, c2 string, v double",
    )
    root = str(tmp_path / "versions")
    vid = Versioner(spark, root).create_version(
        df, "/raw/year=2024/f.csv", 2024, version_id="v_1"
    )
    manifest = json.loads(
        FS(spark).read_text(f"{root}/year=2024/{vid}/_version.json")
    )
    assert manifest["row_count"] == df.count() == 4
    assert manifest["checksum"] == content_checksum(df)
