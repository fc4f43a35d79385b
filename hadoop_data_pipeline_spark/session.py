"""SparkSession factory with the engine's standard configuration.

The reference sets ``spark.sql.sources.partitionOverwriteMode=dynamic``
on its ETL session (reference ``jobs/finance_itsc_pipeline.py:57,97``);
we keep that and add the scale-oriented defaults the reference never
needed at 10^3 rows but that matter at 100 TB: AQE (runtime re-plan,
partition coalescing, skew-join splitting), Arrow for the Python
boundary, UTC session time zone (deterministic timestamp semantics and
oracle comparability), and a shuffle-partition count sized to the local
core count rather than the 200 default.

On a real cluster the same builder is used; only ``master`` and the
memory/instance settings differ (supplied via spark-submit).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], ddl: str
) -> DataFrame:
    """A driver-side list of row tuples as a DataFrame typed by ``ddl``.

    The one way the engine turns Python rows into a frame. A list
    handed to ``spark.createDataFrame`` goes through the RDD path
    (``parallelize`` plus a re-serializing Python ``map``), so every
    job that reads it forks and feeds Python workers, even for zero
    rows. An Arrow table plans as a ``LocalRelation`` instead: no
    Python worker runs, and a zero-row frame is an empty relation that
    Catalyst's ``PropagateEmptyRelation`` prunes joins against. Arrow
    input never falls back to the RDD path, whatever
    ``spark.sql.execution.arrow.pyspark.fallback.enabled`` says.
    ``pyarrow`` is imported here, not at module load, so session
    start-up does not pay for it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T._parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_session(
    app_name: str = "hadoop_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults target local[N] testing; every config below is equally
    valid on a 1000-executor cluster, where ``shuffle_partitions``
    should be ~2-3x total cores (AQE coalesces the excess at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Reference parity: per-partition dynamic overwrite semantics.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Adaptive execution: coalesce small shuffle partitions, split
        # skewed ones, switch to broadcast joins at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by BYTES, but
        # this engine's shuffled rows are deliberately narrow proxies
        # (shingle-hash arrays, band keys, PQ codes) whose downstream
        # cost is compute per row, not bytes: with the 1m default a
        # sub-MB bucket/pair stage coalesces to ONE task and
        # serializes the pair-expansion/verify work behind one core
        # (r16 measurement: ngram_jaccard_pairs_lang 6.0 -> 3.6 s
        # warm at sf0.1 from this knob alone). 64k keeps parallelism
        # on compute-dense small shuffles; at production shuffle
        # sizes (>> cores x 1 MB) the floor never binds, so this only
        # governs the small-input regime. Env-parameterized: set
        # SPARK_GRAFT_AQE_MIN_PARTITION_SIZE=1m to restore the Spark
        # default on byte-bound clusters.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow accelerates toPandas / pandas_udf boundaries ~10-100x.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics; DuckDB oracle comparisons
        # assume UTC-naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's reader otherwise rejects; read as long nanos and
        # convert in the loader (values are whole microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        # Driver memory can only be set before the JVM launches, so this
        # is honest ONLY when this process is about to create the first
        # context (local dev / bench). On a cluster — or any process
        # with a live context — it would silently no-op: size the driver
        # at submit time instead (``spark-submit --driver-memory``).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # A catalog-sized workload generates one codegen class per
        # operator stage; the JVM default 240 MB code cache fills after
        # ~100 distinct queries in one process and the JIT silently
        # stops compiling — later queries then run interpreted 2-3x
        # slower (observed as random per-run spikes in bench.py).
        # Harmless for short-lived cluster executors, essential for a
        # long-lived local session running the whole catalog.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=512m",
            ),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
