package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.MirrorTable

/** Streaming READ of a mirror table: the incremental-consumer side of the
  * commit log. [[StreamMirror]] streams INTO the mirror; this streams OUT of
  * it — a polling micro-batch source over [[MirrorTable.changesBetween]]
  * with a durable offset (the last fully-consumed commit version) persisted
  * under `checkpointDir`, mirroring Structured Streaming's offset-log
  * contract at the API scale this engine owns.
  *
  * Semantics:
  *  - each micro-batch is the append-CDC frame for `(applied, current]` —
  *    every row added in that commit range, tagged `MLK_CommitVersion`;
  *  - the offset is persisted AFTER the batch callback returns, so a crash
  *    between the two replays the batch: at-least-once for arbitrary
  *    callbacks, exactly-once when the callback is idempotent per version
  *    range — which [[replicateOnce]] is, through the target's `txn`
  *    watermark (the same protocol StreamMirror uses);
  *  - REWRITTEN history (delete/OPTIMIZE removes inside the range) fails the
  *    stream by default: an append-only feed cannot represent row removal,
  *    and silently forwarding the re-added rows would duplicate them
  *    downstream. Consumers that compact-tolerantly dedup can opt out via
  *    `failOnRewrites = false` (OPTIMIZE-only churn re-adds identical rows);
  *  - a range reaching VACUUMed files fails with the CDC contract error
  *    ([[MirrorTable.changesBetween]]'s guard) — surfaced through
  *    [[Handle.awaitTermination]] like any stream failure.
  */
class MirrorChangeStream(
    spark: SparkSession,
    mirror: MirrorTable,
    checkpointDir: String,
    failOnRewrites: Boolean = true) {

  private val ckptPath   = new Path(checkpointDir)
  private val offsetPath = new Path(ckptPath, "offset")
  private def fs = ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Last commit version fully consumed (offset), -1 before the first batch. */
  def appliedVersion(): Long =
    if (!fs.exists(offsetPath)) -1L
    else {
      val in = fs.open(offsetPath)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }

  private def persist(v: Long): Unit = {
    if (!fs.exists(ckptPath)) fs.mkdirs(ckptPath)
    val tmp = new Path(ckptPath, s".offset.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(offsetPath)) fs.delete(offsetPath, false)
    if (!fs.rename(tmp, offsetPath))
      throw new IllegalStateException(s"Failed to persist stream offset at $offsetPath")
  }

  /** One micro-batch: drain every commit past the offset, hand the CDC frame
    * to `onBatch(df, fromVersion, toVersion)`, then advance the offset.
    * Returns the consumed range, or None when the mirror has nothing new
    * (no data read, no offset write — safe to poll tightly).
    */
  def drainOnce(onBatch: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val from = appliedVersion()
    val to   = mirror.currentVersion()
    if (to <= from) return None
    val rewrites = mirror.removedBetween(from, to)
    if (rewrites.nonEmpty && failOnRewrites)
      throw new IllegalStateException(
        s"Mirror history was rewritten in ($from, $to]: ${rewrites.size} file remove(s), " +
          s"first: commit ${rewrites.head._1} removed ${rewrites.head._2}. An append-only " +
          "change stream cannot represent removals — re-sync the consumer from a full " +
          "snapshot, or pass failOnRewrites = false if it deduplicates rewritten rows.")
    val df = mirror.changesBetween(from, to) // vacuumed-range guard lives here
    onBatch(df, from, to)
    persist(to)
    Some((from, to))
  }

  /** Exactly-once mirror→mirror replication of one micro-batch. The target's
    * `txn{appId = the source's metaData.id, version = to}` says how far
    * replication got, whatever rewrote the target's files since: a replayed
    * range (crash before the offset write, or a new consumer) forwards only
    * rows past it, by `MLK_CommitVersion`. Keyed by table id, not name or
    * consumer checkpoint, so two consumers of one source are one feed and
    * two sources sharing a name are two. Source lineage columns ride along.
    */
  def replicateOnce(target: MirrorTable): Option[(Long, Long)] =
    drainOnce { (df, from, to) =>
      val sourceId = mirror.tableId
      val prevTo   = target.txnVersion(sourceId).getOrElse(-1L)
      if (prevTo < to) {
        val vCol  = graft.types.KustoTypes.CommitVersionColumn
        val fresh =
          if (prevTo > from) df.filter(org.apache.spark.sql.functions.col(vCol) > prevTo)
          else df
        val stagingName = f"cdc-$sourceId-$to%012d"
        target.stage(stagingName, "g-default", fresh.drop(vCol))
        target.publishStaged(stagingName, Seq("g-default"), sourceId, to)
      }
      ()
    }

  /** Continuous mode: poll every `pollMs` until [[Handle.stop]]. Failures
    * (rewritten history, vacuumed range, callback errors) stop the loop and
    * rethrow from [[Handle.awaitTermination]] — the StreamingQuery shape.
    */
  def start(pollMs: Long)(onBatch: (DataFrame, Long, Long) => Unit): MirrorChangeStream.Handle = {
    val h = new MirrorChangeStream.Handle
    val t = new Thread(() => {
      try while (h.running) {
        drainOnce(onBatch)
        if (h.running) Thread.sleep(pollMs)
      } catch {
        case _: InterruptedException => // stop() during sleep — clean exit
        case e: Throwable            => h.failure = Some(e)
      } finally h.terminated.countDown()
    }, s"mirror-change-stream-${mirror.name}")
    h.thread = t
    t.setDaemon(true)
    t.start()
    h
  }
}

object MirrorChangeStream {
  final class Handle {
    @volatile private[streaming] var running = true
    @volatile private[streaming] var failure: Option[Throwable] = None
    private[streaming] val terminated = new java.util.concurrent.CountDownLatch(1)
    private[streaming] var thread: Thread = _

    def stop(): Unit = { running = false; thread.interrupt(); terminated.await() }

    /** Blocks until the loop exits; rethrows its failure, if any. */
    def awaitTermination(): Unit = { terminated.await(); failure.foreach(throw _) }

    def isActive: Boolean = terminated.getCount > 0
  }
}
