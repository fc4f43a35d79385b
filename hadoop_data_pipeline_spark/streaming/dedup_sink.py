"""Continuous-ingest exact dedup: the streaming form of
:func:`~hadoop_data_pipeline_spark.operators.curation.incremental_dedup`.

A file-source stream of documents is deduplicated per micro-batch —
within the batch AND against a persistent DIGEST STORE (a parquet
table of md5 digests written by all previous batches) — and only the
survivors are appended to the clean zone. The corpus itself is never
re-read or re-shuffled: each micro-batch joins against digests only.

Delivery semantics: EXACTLY-ONCE clean-zone rows across crashes.
The file source's checkpoint gives exactly-once file processing, and
the two appends (clean zone, digest store) run inside one
manifest-last commit (:class:`~hadoop_data_pipeline_spark.streaming.
commitlog.BatchCommitLog`): a crash between the appends is rolled
back to the pre-batch snapshot before the engine replays the batch,
and a replay of a batch whose marker already landed is a no-op —
no window duplicates or loses rows (crash-injection-pinned by
``test_stream_dedup_sink_crash_between_appends``). See the commitlog
module doc for the single-writer / append-only assumptions.

Scale shape per batch: digest store scanned as (digest) only —
column-pruned, no text; batch reduced to digests before the LEFT
ANTI probe; appends are partitioned parquet. Batch cost is
O(batch + matching digests), independent of corpus size.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from hadoop_data_pipeline_spark.session import local_frame
from hadoop_data_pipeline_spark.streaming.commitlog import BatchCommitLog


def has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet file (recursively)
    — the empty-state probe every stateful sink shares."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def field_ddl(schema: T.StructType | str, name: str) -> str:
    """DDL type string of one field of a (possibly DDL-string) schema
    — used to type EMPTY state frames from the sink's own source
    schema instead of hardcoding bigint ids (string doc ids are
    common; a hardcoded type would break the first batch's union)."""
    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    return st[name].dataType.simpleString()


def empty_state(
    spark: SparkSession,
    schema: T.StructType | str,
    source_cols: Sequence[str],
    ddl: str,
) -> DataFrame:
    """The zero-row frame a sink reads for a state store that holds no
    parquet yet: ``source_cols`` typed from the sink's source schema
    (:func:`field_ddl`), then the store's own columns as ``ddl``. It
    is an empty ``LocalRelation`` (:func:`~hadoop_data_pipeline_spark.
    session.local_frame`), so a first tick's probe and verify branches
    against it are pruned at planning time and start no Python
    worker."""
    typed = ", ".join(f"{c} {field_ddl(schema, c)}" for c in source_cols)
    return local_frame(spark, [], f"{typed}, {ddl}")


def first_per_digest(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The exact-dedup convention both the dedup and prep sinks share:
    md5 digest of the text, FIRST occurrence (min id) per digest
    within the frame (WindowGroupLimit shape). Returns the frame plus
    a ``digest`` column. Changing the digest algorithm or tie-break
    here changes it for every sink at once."""
    staged = df.withColumn("digest", F.md5(F.col(text_col)))
    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        staged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def stage_and_release(
    df: DataFrame, staging_dir: str
) -> tuple[DataFrame, "object"]:
    """Materialize ``df`` to a per-batch staging parquet and return
    (re-read frame, release callable). The survivor set of a
    state-mutating sink must be decided EXACTLY ONCE: its plan reads
    the state directories the subsequent appends mutate, and any
    re-evaluation (cache-plan mismatch — observed with
    `write_band_index`'s derived plan — or an evicted cached/
    checkpointed block) would re-run the probe against post-append
    state and silently append wrong (usually empty) rows. A staging
    write cuts the lineage completely and, unlike `localCheckpoint`,
    releases its storage deterministically (the callable removes the
    directory; a crash leaves only an orphan staging dir that the
    replayed batch overwrites)."""
    import shutil

    spark = df.sparkSession
    df.write.mode("overwrite").parquet(staging_dir)
    # Reading with the written schema skips the schema-inference job.
    staged = spark.read.schema(df.schema).parquet(staging_dir)

    def release() -> None:
        shutil.rmtree(staging_dir, ignore_errors=True)

    return staged, release


class StreamingDedupSink:
    """File-source stream -> exact-deduped clean zone + digest store."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        clean_dir: str,
        digest_dir: str,
        checkpoint: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.spark = spark
        self.source_dir = source_dir.rstrip("/")
        self.schema = schema
        self.clean_dir = clean_dir.rstrip("/")
        self.digest_dir = digest_dir.rstrip("/")
        self.checkpoint = checkpoint.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.commit_log = BatchCommitLog(
            f"{self.checkpoint}/commitlog",
            {"clean": self.clean_dir, "digests": self.digest_dir},
            run_id_file=f"{self.checkpoint}/metadata",
        )

    def _existing_digests(self) -> DataFrame | None:
        if not has_parquet(self.digest_dir):
            return None
        return self.spark.read.parquet(self.digest_dir).select("digest")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.commit_log.is_committed(batch_id):
            # replay of a batch whose marker landed before the engine's
            # own checkpoint commit — everything is already in the
            # stores; re-appending would duplicate it.
            return
        first = first_per_digest(batch_df, self.text_col, self.id_col)
        idx = self._existing_digests()
        # Decide survivors EXACTLY ONCE (see stage_and_release): the
        # plan reads the digest store the second append mutates, so
        # it must not be re-evaluable after the first append.
        survivors, release = stage_and_release(
            first.join(idx, "digest", "left_anti") if idx is not None else first,
            f"{self.checkpoint}/staging-{batch_id}",
        )
        try:
            # both appends inside one manifest-last commit — a crash
            # anywhere in here rolls back to the begin() snapshot on
            # the next tick (see module doc).
            self.commit_log.begin(batch_id)
            survivors.drop("digest").write.mode("append").parquet(
                self.clean_dir
            )
            # TTL discipline: verify ownership immediately before each
            # further append (commitlog module doc, residual-window note)
            self.commit_log.heartbeat()
            survivors.select("digest").write.mode("append").parquet(
                self.digest_dir
            )
            self.commit_log.commit(batch_id)
        finally:
            release()

    def compact_stores(
        self, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Between-ticks small-file compaction of the clean zone and
        digest store (both plain append-only parquet — safe to
        coalesce), under the commit log's writer lease
        (`streaming/maintenance.py`). Run after a drain, never during
        a tick (a live tick makes it raise ConcurrentWriterError)."""
        from hadoop_data_pipeline_spark.streaming.maintenance import (
            compact_sink_stores,
        )

        return compact_sink_stores(
            self.spark, self.commit_log, target_bytes=target_bytes
        )

    def run_available_now(self, timeout_sec: int = 120) -> bool:
        """Drain everything currently in ``source_dir``, then stop —
        one cron tick of continuous ingest. Re-running after new files
        arrive processes ONLY the new files (file-source checkpoint)."""
        # roll back any half-committed batch BEFORE the engine replays
        # it — the replay must recompute against pre-batch state.
        self.commit_log.recover()
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(self.source_dir)
        )
        query = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        done = query.awaitTermination(timeout_sec)
        # awaitTermination returns True for a FAILED termination too —
        # surface the foreachBatch exception instead of reporting a
        # green tick with partial state.
        if query.exception() is not None:
            raise query.exception()
        if not done:
            # TIMEOUT: the query is still RUNNING. Returning without
            # stopping it would let a retrying caller race a live
            # batch — the retry's recover() (same commit-log instance,
            # lease already held by the in-flight begin) would roll
            # back that batch's appends mid-write. stop() terminates
            # the query, aborting any in-flight batch — exactly the
            # crash shape the commit log already recovers from — so
            # no live writer survives this return.
            query.stop()
        return done
