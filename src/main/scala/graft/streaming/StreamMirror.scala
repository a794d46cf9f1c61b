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
  * Exactly-once without a new mechanism — the batch protocol already is one:
  *  - the staging dir name is derived from `batchId`, so a post-crash replay
  *    of the same micro-batch re-stages the SAME paths;
  *  - a replayed batch whose files already published is detected up front
  *    (live-path prefix check) and skipped: its one publish commit made every
  *    file of the batch live at once.
  *
  * This is the streaming twin of the reference's 5 s poll loop, with
  * Spark owning triggers: `Trigger.AvailableNow` = the one-shot drain,
  * `Trigger.ProcessingTime("5 seconds")` = the continuous probe
  * (DeltaTableOrchestration.cs:16).
  *
  * Checkpoint contract (standard foreachBatch): keep the checkpoint dir for
  * the mirror's lifetime. A checkpoint LOST at the same path restarts the
  * stream at batch 0 — the replay would collide with the published staging
  * names and be skipped, and rows that arrived AFTER the loss would ride in
  * that replayed batch and be silently skipped with it. That failure is now
  * LOUD: the mirror itself records the highest batch each checkpoint has
  * published (in the stream staging names the commit log keeps), and a
  * micro-batch arriving BELOW it refuses with the recovery options instead
  * of skipping. Residual blind spot: a mirror whose entire history with
  * this checkpoint is one batch (max = 0) cannot distinguish loss-replay
  * from a legitimate crash-retry of batch 0 — there the idempotent skip
  * stands. A checkpoint at a NEW path re-ingests everything (duplicates,
  * as in any Spark sink).
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
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId is only meaningful WITHIN one checkpoint: scope the staging
        // name by the checkpoint dir too, so a different checkpoint (fresh
        // start over the same mirror) can never alias an older run's batch
        // and silently skip its data. Replays of the same checkpoint+batch
        // still collide on purpose — that is the exactly-once path.
        val ckptHash = java.util.UUID.nameUUIDFromBytes(
          checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.take(8)
        val stagingName = f"stream-$ckptHash-$batchId%012d"
        val prefix      = s"data/$stagingName/"
        val live        = mirror.liveAdds()
        val alreadyPublished = live.exists(_.path.startsWith(prefix))

        // batchId-regression guard: Spark's batchIds are monotone within one
        // checkpoint, so a batch BELOW the mirror's max published batch for
        // this checkpoint means the streaming checkpoint was lost or rolled
        // back — refuse loudly; the silent alternative drops every row that
        // arrived after the loss. (The max erodes if later rewrites/OPTIMIZE
        // replace ALL of a checkpoint's stream files — the guard is
        // best-effort beyond that, and exact until then.)
        val batchPrefix  = s"data/stream-$ckptHash-"
        val maxPublished = live.iterator.map(_.path).filter(_.startsWith(batchPrefix))
          .map(_.drop(batchPrefix.length).takeWhile(_.isDigit))
          .filter(_.nonEmpty).map(_.toLong).maxOption
        if (maxPublished.exists(_ > batchId))
          throw new IllegalStateException(
            s"StreamMirror batchId regression for checkpoint $checkpointDir: micro-batch " +
              s"$batchId arrived but batch ${maxPublished.get} is already published by this " +
              "checkpoint — the streaming checkpoint was lost or rolled back, and continuing " +
              "would silently skip every row that arrived after the loss. Restore the " +
              "checkpoint dir, or start a NEW checkpoint path (full re-ingest; " +
              "lineage-delete the old stream rows first to avoid duplicates).")
        if (!alreadyPublished) {
          // ingest timestamp derived from batchId, NOT wall clock: a replayed
          // batch must decorate identically or its rows would carry a new
          // ingest identity (breaking lineage-pinned deletes after recovery)
          val ingestTs = new java.sql.Timestamp(batchId)
          val decorated = batch
            .withColumn(KustoTypes.BlobPathColumn,
              when(input_file_name() =!= "", input_file_name()).otherwise(lit(streamTag)))
            .withColumn(KustoTypes.IngestTsColumn, lit(ingestTs))
          mirror.stage(stagingName, "g-default", decorated)
          mirror.publishStaged(stagingName, Seq("g-default"))
        }
        ()
      }
      .start()
}
