"""Durable, replayable, exactly-once file-backed message queue.

The pure-Spark stand-in for the reference's broker connectors
(rabbitmq_source.rs ~1,150 LoC / rabbitmq_sink.rs): no AMQP library exists
in this environment, but the *semantics* those connectors provide — durable
publish, replay from offset, at-least-once delivery upgraded to
exactly-once by an idempotent consumer — map directly onto Spark
primitives:

- **publish** appends an immutable segment file (written under
  ``<path>/_staging``, outside the watched segment directory, then
  atomically renamed in; strictly-increasing segment ids and mtimes). A
  segment is the unit of delivery, like an AMQP message batch.
- **source** = Spark's file stream over the segment directory. The
  checkpoint records which segments each epoch consumed, so a killed and
  restarted query resumes at the exact segment boundary — no loss, no
  re-read of committed segments (the broker "ack" is the checkpoint
  commit).
- **sink** = ``foreachBatch`` publishing each epoch as a segment named by
  its epoch id, skipping epochs whose segment already exists. Spark
  replays the in-flight epoch after a crash (at-least-once); the
  existence check makes re-delivery a no-op — the standard
  idempotent-by-batch-id upgrade to exactly-once.

At cluster scale the same layout works on any shared filesystem (HDFS,
NFS, object store with atomic rename); segment files shard across
executors like any file source.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class FileQueue:
    """A named durable queue: a directory of immutable JSONL segments."""

    def __init__(self, path: str):
        self.path = path
        self.segments = os.path.join(path, "segments")
        os.makedirs(self.segments, exist_ok=True)

    # -- producer --------------------------------------------------------
    def _write_segment(self, name: str, rows: list[dict]) -> str:
        final = os.path.join(self.segments, name)
        if os.path.exists(final):
            return final  # already delivered (idempotent re-publish)
        # staged outside the watched directory: the file source never
        # lists a partially written segment
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        tmp = os.path.join(staging, name + ".tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # strictly-increasing mtimes at Hadoop's millisecond resolution,
        # never back-dated: the file source orders segments by mtime
        # (publish order = delivery order) and silently drops a file older
        # than its newest seen file minus maxFileAge
        newest = max(
            (os.stat(os.path.join(self.segments, e)).st_mtime_ns
             for e in os.listdir(self.segments)),
            default=0,
        )
        t = max(time.time_ns(), newest + 1_000_000)
        os.utime(tmp, ns=(t, t))
        os.rename(tmp, final)  # atomic: readers never see partial segments
        return final

    def publish(self, rows: list[dict]) -> str:
        """Append one segment; returns its path."""
        n = len(os.listdir(self.segments))
        return self._write_segment(f"seg-{n:06d}.jsonl", rows)

    def publish_epoch(self, rows: list[dict], epoch_id: int) -> bool:
        """Idempotent publish keyed by epoch id (the sink path). Returns
        False when the epoch was already delivered (crash replay)."""
        name = f"epoch-{epoch_id:010d}.jsonl"
        if os.path.exists(os.path.join(self.segments, name)):
            return False
        self._write_segment(name, rows)
        return True

    def publish_epoch_distributed(
        self, batch_df: DataFrame, epoch_id: int, prefix: str = "epoch-"
    ) -> bool:
        """Idempotent DISTRIBUTED publish: the epoch is written by the
        executors into a staging dir outside the segment root, then one
        atomic directory rename commits it. No rows touch the driver —
        this is the 100 TB path; ``publish_epoch`` (driver-side JSONL) is
        the small-batch convenience.

        ``prefix`` namespaces the idempotence key: streaming epochs use the
        default ``epoch-`` (keyed by Spark's epoch id), while batch runs
        sharing the same queue root must use a distinct prefix (run_app uses
        ``batch-``) — otherwise a batch-written epoch-0 would make a later
        stream's micro-batch 0 look like a crash replay and silently drop it.
        """
        final = os.path.join(self.segments, f"{prefix}{epoch_id:010d}")
        if os.path.exists(final):
            return False  # crash replay of a committed epoch
        staging = os.path.join(self.path, "_staging", f"{prefix}{epoch_id:010d}")
        batch_df.write.mode("overwrite").json(staging)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(staging, final)
        return True

    # -- consumer --------------------------------------------------------
    def stream(
        self, spark: SparkSession, schema: str, max_files_per_trigger: int | None = 1
    ) -> DataFrame:
        reader = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"  # flat segments + epoch dirs
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.json(self.segments)

    def read_all(self, spark: SparkSession, schema: str) -> DataFrame:
        """Batch view of everything currently in the queue."""
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .json(self.segments)
        )


def file_queue_writer(
    df: DataFrame,
    queue: FileQueue | str,
    checkpoint: str,
    distributed: bool = True,
):
    """Exactly-once sink: each epoch lands as one idempotent segment.

    Returns an un-started ``DataStreamWriter`` (caller picks trigger /
    query name). Crash-safety contract: if the query dies between segment
    write and checkpoint commit, the restarted query re-runs the same
    epoch id, the existing-segment check detects the committed epoch, and
    the re-delivery is dropped — each input row reaches the queue exactly
    once. ``distributed=True`` (default) writes epochs executor-side with
    an atomic directory-rename commit; ``False`` collects the epoch to a
    single driver-written JSONL segment (tests, tiny topics).
    """
    q = queue if isinstance(queue, FileQueue) else FileQueue(queue)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        if distributed:
            q.publish_epoch_distributed(batch_df, epoch_id)
            return
        rows = [r.asDict(recursive=True) for r in batch_df.collect()]
        rows = [
            {k: (v.isoformat() if hasattr(v, "isoformat") else v) for k, v in r.items()}
            for r in rows
        ]
        q.publish_epoch(rows, epoch_id)

    return df.writeStream.foreachBatch(write).option("checkpointLocation", checkpoint)
