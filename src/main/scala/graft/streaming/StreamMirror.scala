package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.MirrorTable
import graft.types.KustoTypes

/** Continuous ingestion INTO a mirror table from any Structured Streaming
  * source via `foreachBatch`: each micro-batch stages under a
  * batchId-deterministic staging name and publishes through the sink's
  * atomic metadata commit.
  *
  * Exactly-once through the mirror's own log: each publish commits
  * `txn{appId = the checkpoint's hash, version = batchId}` with the batch's
  * adds, and a replayed micro-batch whose `txn` is held is skipped. File
  * rewrites (OPTIMIZE, deletes) cannot erase a watermark kept in the log.
  *
  * This is the streaming twin of the reference's 5 s poll loop, with
  * Spark owning triggers: `Trigger.AvailableNow` = the one-shot drain,
  * `Trigger.ProcessingTime("5 seconds")` = the continuous probe
  * (DeltaTableOrchestration.cs:16).
  *
  * Checkpoint contract (standard foreachBatch): keep the checkpoint dir for
  * the mirror's lifetime. A checkpoint LOST at the same path restarts the
  * stream at batch 0; a micro-batch BELOW the held `txn` then refuses
  * loudly, since skipping it would drop the rows that arrived after the
  * loss. Residual blind spot: with one batch published (held = 0), a
  * loss-replay is indistinguishable from a crash-retry of batch 0, and the
  * idempotent skip stands. A checkpoint at a NEW path re-ingests everything
  * (duplicates, as in any Spark sink).
  */
object StreamMirror {

  /** Start mirroring `events` (any streaming DataFrame whose schema matches
    * the mirror's source columns) into `mirror`. The caller ensures the
    * mirror schema exists (`ensureSchema`) before starting. Rows are
    * decorated with the standard lineage columns: `MLK_BlobPath` = the
    * source file that carried the row (file sources) or `streamTag`,
    * `MLK_IngestTs` = the batch-deterministic ingest instant, so
    * lineage-pinned deletes work on streamed rows exactly like on mirrored
    * blobs.
    */
  def start(
      events: DataFrame,
      mirror: MirrorTable,
      checkpointDir: String,
      streamTag: String = "stream",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // batchId is only meaningful WITHIN one checkpoint, so a different
    // checkpoint over the same mirror is a different application
    val appId = java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val held = mirror.txnVersion(appId)
        // Spark's batchIds are monotone within one checkpoint, so a batch
        // BELOW the held one means the checkpoint was lost or rolled back
        if (held.exists(_ > batchId))
          throw new IllegalStateException(
            s"StreamMirror batchId regression for checkpoint $checkpointDir: micro-batch " +
              s"$batchId arrived but batch ${held.get} is already published by this " +
              "checkpoint — the streaming checkpoint was lost or rolled back, and continuing " +
              "would silently skip every row that arrived after the loss. Restore the " +
              "checkpoint dir, or start a NEW checkpoint path (full re-ingest; " +
              "lineage-delete the old stream rows first to avoid duplicates).")
        if (!held.contains(batchId)) {
          // batch-deterministic ingest instant: a retried batch decorates alike
          val decorated = batch
            .withColumn(KustoTypes.BlobPathColumn,
              when(input_file_name() =!= "", input_file_name()).otherwise(lit(streamTag)))
            .withColumn(KustoTypes.IngestTsColumn, lit(new java.sql.Timestamp(batchId)))
          val stagingName = f"stream-$appId-$batchId%012d"
          mirror.stage(stagingName, "g-default", decorated)
          mirror.publishStaged(stagingName, Seq("g-default"), appId, batchId)
        }
        ()
      }
      .start()
  }
}
