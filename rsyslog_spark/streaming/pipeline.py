"""Streaming parse → enrich → route → sink pipeline.

Shape: ``readStream`` on the transcript table directory → the SAME
batch operators (with_parsed / enrich / RouteCompiler are all
streaming-compatible column transforms) → ``foreachBatch`` fan-out.

foreachBatch is deliberate, not a fallback: rsyslog's action commit is
per dequeued batch (actionCommitAllDirect, runtime/action.c:1617-1635,
called at batch end ruleset.c:672-675), so micro-batch = the reference's
transaction unit. Sink writes are made IDEMPOTENT per micro-batch: every
write is partitioned by ``batch_id`` and uses dynamic partition
overwrite, so a batch replayed after a crash (some sinks written, the
checkpoint not yet committed) overwrites its own partitions instead of
appending duplicates — replay + idempotent write = effective
exactly-once for the sink tables; the streaming checkpoint (WAL +
offsets) plays the role of the disk queue's .qi file (queue.c:176).
Per batch: one counting pass for all sinks (``sinks.sink_counts``), one
write per sink, one write of the ``metrics`` rows (a literal relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.pipeline import build_flagship
from rsyslog_spark.schema import TRANSCRIPT_SCHEMA
from rsyslog_spark.sinks import DEFAULT_SINK_COLUMNS, SinkSpec, sink_counts


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of transcript parquet.

    (imfile analog, plugins/imfile: tail + per-file state; the file
    source's checkpointed offsets replace imfile's state files.)"""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def stream_flagship(
    stream: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    sink_specs: dict[str, SinkSpec] | None = None,
    await_termination: bool = True,
):
    """Run the flagship ruleset over a stream; one parquet dir per sink
    plus a ``metrics`` table of per-batch per-sink counts."""

    def _one_batch(batch_df: DataFrame, batch_id: int):
        annotated, actions = build_flagship(batch_df)
        annotated = annotated.persist()
        try:
            counts = sink_counts(annotated, actions)
            for a in actions:
                out = annotated.filter(F.col(a.pred_col))
                spec = (sink_specs or {}).get(a.sink, SinkSpec(a.sink))
                cols = [
                    c for c in DEFAULT_SINK_COLUMNS if c in out.columns
                ]
                # batch_id partition + dynamic overwrite = idempotent
                # replay (a re-run batch replaces exactly its own data)
                w = (
                    out.select(*cols)
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .format(spec.format)
                    .partitionBy("batch_id", *spec.partition_by)
                )
                w.save(f"{base_path}/{a.sink}")
            # (batch_id, sink, n) per sink as a literal relation: no Python job
            rows = F.inline(F.array(*[F.struct(
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.lit(sink).alias("sink"), F.lit(n).cast("long").alias("n"))
                for sink, n in counts.items()]))
            batch_df.sparkSession.range(1).select(rows).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id").parquet(f"{base_path}/metrics")
        finally:
            annotated.unpersist()

    q = (
        stream.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
