package graft.sink

import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.deltalog.{DeltaLogReader, DeltaLogWriter}
import graft.txlog.TxLog
import graft.types.KustoTypes

/** The mirror *target*: a parquet-backed table with an atomic commit log —
  * the engine's stand-in for the Kusto landing table.
  *
  * Layout: `<dir>/data/<staging-name>/<group>/part-*.parquet` +
  * `<dir>/_delta_log/` (our own commit log in the public Delta format, via
  * [[DeltaLogWriter]]).
  *
  * Commit protocol (the Spark restatement of `.move extents`, O11): staged
  * files are written straight into their final location but are *invisible*
  * until one commit-file rename publishes them — readers resolve live files
  * from the log only. Publishing is therefore pure metadata, O(files-in-batch),
  * zero data movement, and crash-safe: a crash mid-stage leaves only
  * unreferenced orphans, and a retry re-stages (overwrite) + re-commits
  * idempotently.
  *
  * Every row carries `MLK_BlobPath` (source-file lineage,
  * TableDefinition.cs:16) and `MLK_IngestTs` (this engine's analog of Kusto
  * `ingestion_time()`), so deletes pin the exact ingested instance (O12).
  * Each published file's add-action records the set of source blobs it holds
  * (in add.tags), so a delete rewrites only the files that actually contain
  * the doomed lineage — O(affected files), like the extent-targeted
  * `.delete table records` (S12).
  */
class MirrorTable(spark: SparkSession, dir: String, val name: String) {
  import MirrorTable._

  private val root     = new Path(dir)
  private val dataPath = new Path(root, "data")
  private val writer   = new DeltaLogWriter(spark, dir)
  private val reader   = new DeltaLogReader(spark, dir, name)
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(root, "_delta_log"))

  /** `CREATE TABLE IF NOT EXISTS` + additive schema merge (S14,
    * DeltaTableOrchestration.cs:301-335): first call writes the metaData
    * commit; a later additive schema change re-commits it; a
    * partition-column change is refused (TransactionLog.cs:153-157).
    */
  def ensureSchema(sourceSchema: StructType, partitionColumns: Seq[String]): Unit = {
    val full = KustoTypes.withTrackingColumns(sourceSchema)
    currentMeta() match {
      case None =>
        writer.commit(Seq(writer.metaDataAction(
          java.util.UUID.randomUUID().toString, name, full, partitionColumns)))
      case Some((existing, pcols)) =>
        require(pcols == partitionColumns,
          s"Repartitioning unsupported: $pcols -> $partitionColumns")
        if (existing != full) {
          val merged = mergeSchemas(existing, full)
          if (merged != existing)
            writer.commit(Seq(writer.metaDataAction(
              java.util.UUID.randomUUID().toString, name, merged, partitionColumns)))
        }
    }
  }

  def currentMeta(): Option[(StructType, Seq[String])] =
    snapshotLog().flatMap(_.metadata).map { m =>
      (KustoTypes.structFrom(m.schema.getOrElse(Seq.empty)),
        m.partitionColumns.getOrElse(Seq.empty))
    }

  /** Staging area of one batch attempt (S13) — final location, pre-publish. */
  def stagingDir(stagingName: String): Path = new Path(dataPath, stagingName)

  def stagingExists(stagingName: String): Boolean = fs.exists(stagingDir(stagingName))

  /** Remove a staging area that was never published (reset path,
    * DeltaTableOrchestration.cs:181-200). Refuses if any of its files are
    * already live.
    */
  def dropUnpublishedStaging(stagingName: String): Unit = {
    val p = stagingDir(stagingName)
    if (!fs.exists(p)) return
    val prefix = s"data/$stagingName/"
    require(!liveAdds().exists(_.path.startsWith(prefix)),
      s"Staging $stagingName is published; refusing to delete")
    fs.delete(p, true)
  }

  /** Write one partition-group's rows under the batch staging area
    * (invisible until publish). Overwrite-idempotent per (staging, group).
    */
  def stage(stagingName: String, groupId: String, df: DataFrame): Unit = {
    val target = new Path(stagingDir(stagingName), groupId)
    df.write.mode("overwrite").parquet(target.toString)
  }

  /** Publish everything staged under `stagingName` in ONE commit: a single
    * distributed pass recovers per-file lineage (source blobs + row count),
    * then the commit rename flips visibility. Files already live (a retry
    * after a crash between commit and state-persist) are skipped.
    * Returns the commit version, or -1 if nothing new to publish.
    */
  def publishStaged(
      stagingName: String,
      pvByGroup: Map[String, Map[String, String]] = Map.empty,
      statsColumns: Seq[String] = Nil): Long = {
    val stg = stagingDir(stagingName)
    if (!fs.exists(stg)) return -1L
    val files = graft.util.PhaseTimer.time("publish.list")(listParquet(stg))
    if (files.isEmpty) return -1L

    val live = graft.util.PhaseTimer.time("publish.live")(liveAdds().map(_.path).toSet)
    val rel  = files.map(f => f -> relPath(f.getPath))
      .filterNot { case (_, r) => live.contains(r) }
    if (rel.isEmpty) return -1L

    val lineage = graft.util.PhaseTimer.time("publish.lineage")(
      lineageOf(rel.map(_._1), statsColumns))
    val actions = rel.map { case (f, r) =>
      val p    = f.getPath
      val meta = lineage.getOrElse(normalizePath(p.toString), FileMeta(Seq.empty, 0L))
      // partition values recorded per file (keyed by the staging group dir)
      // → metadata-only partition pruning at read time, like Kusto extents
      val pv = pvByGroup.getOrElse(p.getParent.getName, Map.empty)
      writer.addAction(r, f.getLen, pv, Some(meta.rows), tags = tagsFor(meta))
    }
    val v = graft.util.PhaseTimer.time("publish.commit")(writer.commit(actions))
    maybeCheckpoint(v)
    v
  }

  /** Row-level delete by source lineage (S12/O12): rewrite exactly the live
    * files whose recorded source blobs intersect the doomed set, dropping
    * rows whose (MLK_BlobPath, MLK_IngestTs) matches a doomed instance; one
    * commit removes the old files and adds the rewrites.
    */
  def deleteByLineage(
      doomed: Seq[(String, Option[Timestamp])],
      statsColumns: Seq[String] = Nil,
      parallelism: Int = 4): Long = {
    if (doomed.isEmpty) return -1L
    val doomedPaths = doomed.map(_._1).toSet
    val affected = liveAdds().filter { a =>
      a.tags.get(SourceBlobsTag) match {
        case Some(json) => M.readValue(json, classOf[Array[String]]).exists(doomedPaths)
        case None       => true // no lineage recorded — must assume affected
      }
    }
    if (affected.isEmpty) return -1L

    val keep = !doomed.map { case (p, ts) =>
      val pathEq = col(KustoTypes.BlobPathColumn) === lit(p)
      ts.map(t => pathEq && col(KustoTypes.IngestTsColumn) === lit(t)).getOrElse(pathEq)
    }.reduce(_ || _)

    val stagingName = s"delete-${java.util.UUID.randomUUID().toString.take(8)}"
    // one rewrite job per affected PARTITION GROUP, not per file — a delete
    // touching 10k files submits tens of group jobs (bounded-parallel), each
    // reading all its files in one MANIFEST scan (lengths come from the
    // commit log; no per-path listing). The explicit CURRENT table schema
    // subsumes what the old mergeSchema read computed: schema evolution is
    // additive-only (mergeSchemas refuses type changes), so every live file
    // holds a subset of it and older files surface the newer columns as
    // nulls — exactly the create-merge read semantics.
    val tableSchema = currentMeta().getOrElse(
      throw new IllegalStateException(s"Mirror table $name has no schema commit"))._1
    val byPv = affected.groupBy(_.partitionValues).toSeq.sortBy(_._1.toString)
    val rewritten = graft.util.BoundedPar.run(byPv.zipWithIndex, parallelism) {
      case ((pv, adds), i) =>
        val df = manifestRead(tableSchema, adds.map(a => (a.path, a.size))).filter(keep)
        stage(stagingName, s"rw$i", df)
        (pv, adds, listParquet(new Path(stagingDir(stagingName), s"rw$i")))
    }
    val newFiles = rewritten.flatMap(_._3)
    val lineage  = if (newFiles.nonEmpty) lineageOf(newFiles, statsColumns)
                   else Map.empty[String, FileMeta]
    val fileToPv = rewritten.flatMap { case (pv, _, files) =>
      files.map(_.getPath -> pv)
    }.toMap
    val actions =
      rewritten.flatMap { case (_, adds, _) =>
        adds.map(a => writer.removeAction(a.path, Some(a.partitionValues)))
      } ++
        newFiles.map { f =>
          val p    = f.getPath
          val meta = lineage.getOrElse(normalizePath(p.toString), FileMeta(Seq.empty, 0L))
          // rewrites inherit their group's partition values so file-level
          // pruning keeps working after deletes
          writer.addAction(relPath(p), f.getLen,
            fileToPv.getOrElse(p, Map.empty), Some(meta.rows),
            tags = tagsFor(meta))
        }
    val v = writer.commit(actions)
    maybeCheckpoint(v)
    v
  }

  /** OPTIMIZE: compact live files smaller than `smallFileBytes` into
    * ~`targetFileBytes` files, preserving rows and their lineage columns;
    * the union of the compacted inputs' source blobs becomes the new files'
    * lineage tag, so targeted deletes keep working afterwards. One atomic
    * commit (removes + adds), exactly like an upstream Delta OPTIMIZE —
    * the antidote to per-batch small files at scale.
    *
    * Compaction is PER PARTITION GROUP: rewrites keep their inputs'
    * partition values, so file-level partition pruning survives OPTIMIZE
    * (compacting across partitions would erase the values and force every
    * pruned read to conservatively include the compacted files).
    *
    * `clusterBy` additionally range-partitions each group's rows on the
    * given columns before writing — output files then carry disjoint
    * min/max ranges, so parquet row-group/file skipping answers range
    * predicates on those columns without opening unrelated files (the
    * ZORDER-lite of a single-dimension sort).
    * Returns the commit version, or -1 if nothing to compact.
    */
  def optimize(
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Long = {
    val groups = liveAdds().filter(_.size < smallFileBytes)
      .groupBy(_.partitionValues)
      .filter(_._2.size >= 2)
      .toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
    if (groups.isEmpty) return -1L

    // read with the TABLE schema, not footer inference: after additive
    // schema evolution a group can mix old files (missing the new column)
    // with new ones — inference from a sampled old footer would stage the
    // rewrite without the column and erase its values for good
    val tableSchema = currentMeta().getOrElse(
      throw new IllegalStateException(s"Mirror table $name has no schema commit"))._1

    val stagingName = s"optimize-${java.util.UUID.randomUUID().toString.take(8)}"
    val staged = groups.zipWithIndex.map { case ((pv, files), gi) =>
      val totalBytes = files.map(_.size).sum
      val nOut       = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      val in         = manifestRead(tableSchema, files.map(a => (a.path, a.size)))
      val out =
        if (clusterBy.nonEmpty)
          in.repartitionByRange(nOut, clusterBy.map(org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
        else in.repartition(nOut)
      stage(stagingName, s"g$gi", out)
      (pv, files, listParquet(new Path(stagingDir(stagingName), s"g$gi")))
    }

    // ONE lineage job over every group's output, not one collect per group;
    // stats recorded for clusterBy columns too — the whole point of range
    // clustering is that the resulting min/max ranges drive skipping. Also
    // re-record whatever stat columns the INPUT files already carried, so a
    // maintenance OPTIMIZE without explicit statsColumns doesn't silently
    // strip the skipping metadata the publisher recorded.
    val inherited = groups.flatMap(_._2).flatMap { a =>
      a.tags.get(StatsTag).toSeq.flatMap { json =>
        val it = M.readTree(json).fieldNames()
        Iterator.continually(if (it.hasNext) it.next() else null).takeWhile(_ != null)
      }
    }
    val lineage = lineageOf(staged.flatMap(_._3),
      (statsColumns ++ clusterBy ++ inherited).distinct)
    val actions = staged.flatMap { case (pv, files, newFiles) =>
      files.map(a => writer.removeAction(a.path, Some(a.partitionValues))) ++
        newFiles.map { f =>
          val p    = f.getPath
          val meta = lineage.getOrElse(normalizePath(p.toString), FileMeta(Seq.empty, 0L))
          writer.addAction(relPath(p), f.getLen, pv, Some(meta.rows),
            tags = tagsFor(meta))
        }
    }
    val v = writer.commit(actions)
    maybeCheckpoint(v)
    v
  }

  /** Live file inventory straight from the commit log — no data scan. Tags
    * (lineage + stats) ride the snapshot fold itself, which bootstraps from
    * the latest sink checkpoint: a rebuild is O(checkpoint + trailing
    * commits), never O(entire commit log), on a long-lived mirror.
    */
  def liveAdds(): Seq[LiveFile] =
    snapshotLog().toSeq.flatMap(_.adds).map { a =>
      LiveFile(a.blobPath.get, a.partitionValues.getOrElse(Map.empty),
        a.size.getOrElse(0L), a.tags.getOrElse(Map.empty))
    }

  /** Max count of live files under `smallFileBytes` sharing one partition
    * tuple — the auto-OPTIMIZE trigger metric. Metadata-only (commit-log
    * fold), no data or directory I/O.
    */
  def smallFileBacklog(smallFileBytes: Long): Int =
    liveAdds().filter(_.size < smallFileBytes)
      .groupBy(_.partitionValues).map(_._2.size).maxOption.getOrElse(0)

  /** VACUUM: physically delete data files tombstoned by delete rewrites or
    * OPTIMIZE once they age past `retainMs`. The commit log itself is never
    * touched (time travel over metadata stays possible, only data bytes are
    * reclaimed). Returns files deleted.
    *
    * Default (targeted) mode derives candidates from the log's REMOVE
    * actions past a persisted watermark (`_delta_log/_graft_vacuum`):
    * each run reads only commits the previous run hasn't processed —
    * O(new commits), never the O(all files) recursive data-dir listing a
    * delete-heavy 100× table can't afford per poll. A commit's removes are
    * reclaimed only when ALL are older than the cutoff (their recorded
    * deletionTimestamp); the scan stops at the first still-retained commit
    * so the watermark never skips pending tombstones.
    *
    * `full = true` keeps the recursive listing: it additionally reclaims
    * crash orphans — staged-but-never-committed files no remove action
    * names — at O(all files) listing cost. Run it as an occasional sweep,
    * not per poll. The retention window is what protects concurrently
    * staged files in this mode (same contract as Delta VACUUM).
    */
  def vacuum(retainMs: Long = 7L * 24 * 3600 * 1000, full: Boolean = false): Int = {
    require(retainMs >= 0, "retainMs must be >= 0")
    val cutoff = System.currentTimeMillis() - retainMs
    if (full) vacuumFull(cutoff) else vacuumTargeted(cutoff)
  }

  private def vacuumFull(cutoff: Long): Int = {
    val live = liveAdds().map(a => normalizePath(new Path(root, a.path).toString)).toSet
    var deleted = 0
    listParquet(dataPath).foreach { f =>
      if (!live.contains(normalizePath(f.getPath.toString))
          && f.getModificationTime < cutoff) {
        fs.delete(f.getPath, false)
        deleted += 1
      }
    }
    deleted
  }

  private val vacuumMarkPath = new Path(root, "_delta_log/_graft_vacuum")

  private def readVacuumMark(): Long =
    if (!fs.exists(vacuumMarkPath)) -1L
    else {
      val in = fs.open(vacuumMarkPath)
      try M.readTree(in).get("version").asLong finally in.close()
    }

  private def writeVacuumMark(v: Long): Unit = {
    val tmp = new Path(root, s"_delta_log/._graft_vacuum.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"""{"version":$v}""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(vacuumMarkPath)) fs.delete(vacuumMarkPath, false)
    fs.rename(tmp, vacuumMarkPath)
  }

  private def vacuumTargeted(cutoff: Long): Int = {
    val from    = readVacuumMark()
    val commits = reader.listCommits(from + 1)
    if (commits.isEmpty) return 0
    val byVersion = reader.readCommits(commits).map(l => l.startTxId -> l).toMap
    // paths are never reused in this engine (UUID staging names), so a
    // removed path can't be live again — the guard is cheap insurance
    val live    = liveAdds().map(_.path).toSet
    var deleted = 0
    var wm      = from
    var stopped = false
    commits.foreach { case (v, commitPath) =>
      if (!stopped) {
        val removes = byVersion.get(v).map(_.removes).getOrElse(Seq.empty)
        // fail-safe without wedging: a remove with NO deletionTimestamp
        // (foreign/fixture logs — this engine always stamps one) ages by its
        // COMMIT FILE's modification time — never treated as infinitely old
        // (instant delete) NOR as forever-new (which would pin the watermark
        // below this commit and stall all later reclamation permanently)
        lazy val commitTs = fs.getFileStatus(commitPath).getModificationTime
        def effectiveTs(r: graft.txlog.TransactionItem): Long =
          r.deltaTimestamp.map(_.toEpochMilli).getOrElse(commitTs)
        if (removes.exists(effectiveTs(_) > cutoff)) stopped = true
        else {
          removes.flatMap(_.blobPath).filterNot(live).foreach { rel =>
            if (fs.delete(new Path(root, rel), false)) deleted += 1
          }
          wm = v
        }
      }
    }
    if (wm > from) writeVacuumMark(wm)
    deleted
  }

  /** The mirrored table as a DataFrame: live files only, full mirror schema
    * (source columns + lineage columns).
    */
  def snapshot(): DataFrame = snapshotWhere(_ => true)

  /** Partition-pruned snapshot: only live files whose recorded partition
    * values satisfy `partitionPredicate` are opened — O(pruned files)
    * metadata work, zero data touched for pruned partitions (the extent-
    * pruning Kusto performs on partitioned mirrors).
    *
    * SUPERSET semantics, like all file skipping: files without recorded
    * partition values (unpartitioned tables, or files compacted across
    * partitions by [[optimize]]) are conservatively INCLUDED — callers must
    * still apply their row-level filter on the returned frame; the pruning
    * only bounds which files get opened.
    */
  def snapshotWhere(partitionPredicate: Map[String, String] => Boolean): DataFrame =
    prunedSnapshot(a => a.partitionValues.isEmpty || partitionPredicate(a.partitionValues))

  /** Shared body of every pruned read: current schema over the live files
    * `keep` selects (pruning predicates must be conservative — include when
    * in doubt); typed empty frame when nothing survives.
    */
  private def prunedSnapshot(keep: LiveFile => Boolean): DataFrame = {
    val meta = currentMeta().getOrElse(
      throw new IllegalStateException(s"Mirror table $name has no schema commit"))
    val files = liveAdds().filter(keep)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta._1)
    else manifestRead(meta._1, files.map(a => (a.path, a.size)))
  }

  /** Parquet over (relPath, recordedLen) pairs served from the commit log —
    * zero filesystem listing at plan time (the log IS the manifest; a 10⁶-
    * file snapshot must not pay a 10⁶-path glob+list per read). Our own
    * publisher always records true lengths; a non-positive length (foreign
    * or hand-built log) falls back to a listed read rather than trust it.
    */
  private def manifestRead(schema: StructType, files: Seq[(String, Long)]): DataFrame =
    if (files.forall(_._2 > 0L))
      org.apache.spark.sql.graftbridge.GraftManifestScan.parquet(
        spark, schema,
        files.map { case (rel, len) =>
          org.apache.spark.sql.graftbridge.GraftManifestScan.status(new Path(root, rel), len)
        })
    else spark.read.schema(schema).parquet(files.map(f => new Path(root, f._1).toString): _*)

  /** Stats-pruned snapshot: only live files whose recorded numeric
    * [min,max] for `column` intersects [lo,hi] are opened. Files without
    * recorded stats for the column are conservatively INCLUDED (superset
    * semantics, same contract as [[snapshotWhere]]) — callers still apply
    * the row-level filter. Stats come from `statsColumns` at publish/
    * delete/OPTIMIZE time; `optimize(clusterBy = ...)` makes the ranges
    * disjoint across files, which is when this pruning pays off.
    */
  def snapshotRange(column: String, lo: Double, hi: Double): DataFrame =
    prunedSnapshot { a =>
      statsOf(a, column) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true
      }
    }

  /** [[snapshotRange]] for STRING columns: lexicographic [lo,hi] pruning on
    * the recorded string bounds (ASCII-only and truncation-widened at record
    * time — see `truncateBounds` — so the superset contract holds for long
    * and non-ASCII values too). The pruning shape for date-string / category
    * columns — the other classic skipping axis.
    */
  def snapshotRangeString(column: String, lo: String, hi: String): DataFrame =
    prunedSnapshot { a =>
      strStatsOf(a, column) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true
      }
    }

  /** Time travel: the table exactly as of sink-log commit `version` —
    * the as-of metadata's schema over the as-of live file set. Reproducible
    * dataset snapshots for training pipelines ("the corpus as of commit N")
    * fall out of the commit log for free. As in Delta, [[vacuum]] reclaims
    * files unreferenced by the CURRENT snapshot, so time travel reaches only
    * as far back as vacuum retention allows.
    */
  def snapshotAt(version: Long): DataFrame = {
    val log = reader.snapshotAsOf(version).getOrElse(
      throw new IllegalArgumentException(s"No commits at or before version $version for $name"))
    val schema = log.metadata.map(m => KustoTypes.structFrom(m.schema.getOrElse(Seq.empty)))
      .getOrElse(currentMeta().map(_._1).getOrElse(
        throw new IllegalStateException(s"Mirror table $name has no schema commit")))
    val files = log.adds.flatMap(a => a.blobPath.map(p => (p, a.size.getOrElse(0L))))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else manifestRead(schema, files)
  }

  /** Commit history (DESCRIBE HISTORY analog): one row per sink-log commit
    * with its action counts — the navigation aid for [[snapshotAt]].
    * Driver-side metadata only; no data files are touched.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val logs = reader.readCommits(reader.listCommits())
    logs.map { l =>
      val ts = (l.adds ++ l.removes ++ l.metadata.toSeq)
        .flatMap(_.deltaTimestamp).map(_.toEpochMilli).maxOption
        .map(new java.sql.Timestamp(_)).orNull
      (l.startTxId, ts, l.adds.size.toLong, l.removes.size.toLong, l.metadata.nonEmpty)
    }.toDF("version", "timestamp", "n_adds", "n_removes", "schema_change")
      .orderBy(col("version"))
  }

  /** CDC read (change-data-feed analog, appended rows): every row ADDED by a
    * sink commit in `(fromVersion, toVersion]`, tagged with the commit
    * version (`MLK_CommitVersion`) that introduced it — the "what's new
    * since snapshot N" feed an incremental training pipeline consumes
    * instead of diffing snapshots. Row deletes surface as file rewrites;
    * their removed files are listed by [[removedBetween]]. One distributed
    * read over exactly the added files plus a broadcast file→version map;
    * like [[snapshotAt]], reach is bounded by vacuum retention.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val schema = currentMeta().map(_._1).getOrElse(
      throw new IllegalStateException(s"Mirror table $name has no schema commit"))
    val logs = reader.readCommits(reader.listCommits(fromVersion + 1, toVersion))
    // a path re-added at multiple versions inside the range yields ONE row
    // per data row, tagged with the LATEST introducing commit — matching the
    // manifest scan's last-entry-wins read of the file; without this dedup
    // the version join fanned each row out once per re-add (round-14 advice)
    val added = logs.flatMap { l =>
      l.adds.flatMap(a => a.blobPath.map(p => (p, a.size.getOrElse(0L), l.startTxId)))
    }.groupBy(t => normalizePath(new Path(root, t._1).toString))
      .valuesIterator.map(_.maxBy(_._3)).toSeq.sortBy(_._3)
    val fileToV = added.map { case (p, _, v) =>
      normalizePath(new Path(root, p).toString) -> v
    }
    val out = KustoTypes.CommitVersionColumn
    if (fileToV.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(out, org.apache.spark.sql.types.LongType))
    // a range reaching vacuumed history must fail with the CONTRACT, not a
    // raw PATH_NOT_FOUND from the scan (metadata-bounded existence check)
    val vacuumed = fileToV.collect {
      case (p, v) if !fs.exists(new Path(p)) => s"$p (commit $v)"
    }
    if (vacuumed.nonEmpty)
      throw new IllegalStateException(
        s"changesBetween($fromVersion, $toVersion) reaches ${vacuumed.size} file(s) already " +
          s"reclaimed by VACUUM — narrow the range or raise vacuum retention. First: ${vacuumed.head}")
    import spark.implicits._
    val mapping = fileToV.toDF("_abs", out)
    manifestRead(schema, added.map(t => (t._1, t._2)))
      .withColumn("_abs", normalizePathCol(input_file_name()))
      .join(broadcast(mapping), Seq("_abs"))
      .drop("_abs")
  }

  /** The file-level remove side of [[changesBetween]]: (version, path) of
    * every file removed in `(fromVersion, toVersion]` — driver-side metadata
    * only. A consumer that cannot tolerate rewritten history (deletes /
    * OPTIMIZE churn) checks this is empty before trusting the append feed.
    */
  def removedBetween(fromVersion: Long, toVersion: Long): Seq[(Long, String)] = {
    require(fromVersion <= toVersion,
      s"removedBetween: fromVersion $fromVersion > toVersion $toVersion")
    reader.readCommits(reader.listCommits(fromVersion + 1, toVersion))
      .flatMap(l => l.removes.flatMap(_.blobPath).map(l.startTxId -> _))
  }

  /** Latest sink-log commit version, or -1 for an empty log. */
  def currentVersion(): Long = reader.listCommits().lastOption.map(_._1).getOrElse(-1L)

  /** Recorded numeric (min,max) of `column` for a live file, if kept. */
  def statsOf(a: LiveFile, column: String): Option[(Double, Double)] =
    a.tags.get(StatsTag).flatMap { json =>
      val node = M.readTree(json).get(column)
      if (node == null || node.size() != 2 || !node.get(0).isNumber) None
      else Some((node.get(0).asDouble(), node.get(1).asDouble()))
    }

  /** Recorded lexicographic string (min,max) of `column`, if kept. */
  def strStatsOf(a: LiveFile, column: String): Option[(String, String)] =
    a.tags.get(StatsTag).flatMap { json =>
      val node = M.readTree(json).get(column)
      if (node == null || node.size() != 2 || !node.get(0).isTextual) None
      else Some((node.get(0).asText(), node.get(1).asText()))
    }

  // ---- internals ----------------------------------------------------------

  private def relPath(p: Path): String =
    normalizePath(p.toString).stripPrefix(normalizePath(root.toString)).stripPrefix("/")

  /** Recursive parquet listing returning the full statuses: callers need
    * (path, len, mtime) and a per-file `getFileStatus` round-trip on top of
    * the listing doubles the metadata ops at 10⁴⁺ staged files.
    */
  private def listParquet(dirPath: Path): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    if (!fs.exists(dirPath)) return Seq.empty
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    val it  = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** One distributed job: per staged file → (source blobs, row count, and —
    * when `statsCols` is non-empty — per-column min/max for numeric data
    * skipping). Columns absent from the table schema are skipped silently.
    * Takes the statuses the caller already holds from its staging listing —
    * a manifest scan, so publish never re-lists or schema-infers what it
    * just wrote.
    */
  private def lineageOf(
      files: Seq[org.apache.hadoop.fs.FileStatus],
      statsCols: Seq[String] = Nil): Map[String, FileMeta] = {
    val schema = currentMeta().getOrElse(
      throw new IllegalStateException(s"Mirror table $name has no schema commit"))._1
    val df = org.apache.spark.sql.graftbridge.GraftManifestScan.parquet(spark, schema, files)
    // string columns keep lexicographic string bounds; everything else goes
    // through the numeric double path
    val (strCols, present) = statsCols.filter(df.columns.contains).partition { c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType
    }
    val statAggs = present.flatMap { c =>
      Seq(min(col(c).cast("double")).as(s"_min_$c"), max(col(c).cast("double")).as(s"_max_$c"))
    } ++ strCols.flatMap { c =>
      Seq(min(col(c)).as(s"_smin_$c"), max(col(c)).as(s"_smax_$c"))
    }
    val base = Seq(
      collect_set(col(KustoTypes.BlobPathColumn)).as("blobs"), count(lit(1)).as("rows"))
    df.groupBy(normalizePathCol(input_file_name()).as("_file"))
      .agg(base.head, (base.tail ++ statAggs): _*)
      .collect()
      .map { r =>
        val strStats = strCols.flatMap { c =>
          val mn = r.getAs[String](s"_smin_$c")
          val mx = r.getAs[String](s"_smax_$c")
          if (mn == null || mx == null) None
          else truncateBounds(mn, mx).map(c -> _)
        }.toMap
        val stats = present.flatMap { c =>
          val mi = r.getAs[Any](s"_min_$c")
          val ma = r.getAs[Any](s"_max_$c")
          if (mi == null || ma == null) None
          else {
            val (lo, hi) = (mi.asInstanceOf[Double], ma.asInstanceOf[Double])
            // NaN/Infinity would serialize to invalid JSON and poison every
            // later statsOf parse — drop the column's stats for this file
            // (conservative include at prune time) instead
            if (java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi)) {
              // the double cast rounds 64-bit integers beyond 2^53 — possibly
              // INWARD, which would let snapshotRange prune a file that holds
              // matching rows. Widen one ulp outward to keep the recorded
              // range a superset of the true range (skip at ±MaxValue where
              // widening would leave the finite domain).
              val loW = { val w = Math.nextDown(lo); if (java.lang.Double.isFinite(w)) w else lo }
              val hiW = { val w = Math.nextUp(hi); if (java.lang.Double.isFinite(w)) w else hi }
              Some(c -> ((loW, hiW)))
            } else None
          }
        }.toMap
        r.getString(0) -> FileMeta(r.getSeq[String](1), r.getLong(2), stats, strStats)
      }
      .toMap
  }

  /** Tags for one published file: source-blob lineage + optional min/max
    * stats (JSON: {"col":[min,max],...} — numbers for numeric columns,
    * JSON strings for string columns; keys sorted for determinism).
    */
  private def tagsFor(meta: FileMeta): Map[String, String] = {
    val lineageTag = Map(SourceBlobsTag -> M.writeValueAsString(meta.blobs.toArray))
    if (meta.stats.isEmpty && meta.strStats.isEmpty) lineageTag
    else {
      val node = M.createObjectNode()
      (meta.stats.keySet ++ meta.strStats.keySet).toSeq.sorted.foreach { c =>
        val arr = node.putArray(c)
        meta.stats.get(c).foreach { case (mi, ma) => arr.add(mi); arr.add(ma) }
        meta.strStats.get(c).foreach { case (mi, ma) => arr.add(mi); arr.add(ma) }
      }
      lineageTag + (StatsTag -> M.writeValueAsString(node))
    }
  }

  // test hook: I/O accounting for rebuild-cost assertions
  private[graft] def logReader: DeltaLogReader = reader

  // the folded log as of version `_1` (-1: empty log); None until first use
  private var snapshotMemo: Option[(Long, Option[TxLog])] = None

  /** The folded commit log as of its latest version, advanced in place:
    * when the log grew by contiguous commits past the memo, only those are
    * parsed and folded onto it in commit order — the same left fold
    * `TxLog.coalesce` that [[DeltaLogReader.fullSnapshot]] performs, so a
    * steady-state read costs one LIST plus the new commits. A fresh handle,
    * a gap, or a log below the memo rebuilds from checkpoint + trailing
    * commits — as of the listed version, so a commit landing meanwhile is
    * folded by the next call, never twice.
    */
  private def snapshotState(): (Long, Option[TxLog]) = {
    val commits = reader.listCommits()
    val key     = commits.lastOption.fold(-1L)(_._1)
    val next = snapshotMemo match {
      case Some(memo @ (k, _)) if k == key => memo
      case Some((k, s)) if k < key && commits.count(_._1 > k) == key - k =>
        val logs = s.toSeq ++ reader.readCommits(commits.filter(_._1 > k))
        (key, if (logs.isEmpty) None else Some(TxLog.coalesce(logs)))
      case _ if key >= 0 => (key, reader.snapshotAsOf(key))
      case _ => // no commit JSONs: the last checkpoint, if any, is the table
        (key, reader.readLastCheckpoint().map(c => reader.readCheckpoint(c.version, startTxId = 0L)))
    }
    snapshotMemo = Some(next)
    next
  }

  private def snapshotLog(): Option[TxLog] = snapshotState()._2

  /** Checkpoint the sink's own commit log every `CheckpointEvery` commits so
    * snapshot replay stays O(live files + recent commits) on long-lived
    * mirrors (the same O1/O10 treatment the source log gets). The state
    * written is the snapshot memo, advanced past the commit just made.
    */
  private def maybeCheckpoint(version: Long): Unit =
    if (version > 0 && version % CheckpointEvery == 0) {
      val (latest, state) = snapshotState()
      state.foreach(writer.writeCheckpoint(_, latest))
    }
}

object MirrorTable {
  val SourceBlobsTag = "graft.sourceBlobs"

  /** Per-file numeric min/max stats tag ({"col":[min,max],...}) — the
    * data-skipping metadata real Delta keeps in add.stats minValues/maxValues.
    */
  val StatsTag = "graft.stats"

  /** Sink-log checkpoint cadence (Delta writers default to every 10 commits). */
  val CheckpointEvery = 10L
  private val M      = new ObjectMapper()

  final case class LiveFile(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      tags: Map[String, String])

  /** Per-file publish metadata from one lineage job. */
  final case class FileMeta(
      blobs: Seq[String],
      rows: Long,
      stats: Map[String, (Double, Double)] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty)

  /** Conservative truncation of recorded string stat bounds, ASCII-only.
    *
    * Returns None — drop the stats, conservative include at prune time —
    * unless both bounds are pure printable-range ASCII. The restriction is
    * what makes the bounds SOUND: Spark computes min/max in UTF8_BINARY
    * (code-point) order while the prune compares with java.lang.String
    * (UTF-16) order, and the two disagree for supplementary characters;
    * for ASCII-only stored bounds every comparison against ANY probe string
    * agrees under both orders (at the first difference, a non-ASCII char
    * sorts above ASCII in both). Truncation: the min keeps a prefix (≤ the
    * true min in any order); the max increments the last kept char
    * (strictly above every string sharing the prefix) — well-defined
    * because ASCII < 0x7F always has an ASCII successor.
    */
  private[graft] def truncateBounds(
      mn: String, mx: String, cap: Int = 64): Option[(String, String)] = {
    def asciiOk(s: String) = s.forall(c => c >= ' ' && c <= '~')
    if (!asciiOk(mn) || !asciiOk(mx)) None
    else {
      val lo = if (mn.length > cap) mn.take(cap) else mn
      if (mx.length <= cap) Some((lo, mx))
      else {
        val t = mx.take(cap)
        Some((lo, t.init + (t.last + 1).toChar))
      }
    }
  }

  /** Additive schema merge: existing columns keep their types (a type change
    * is refused), new columns append — `.create-merge table` semantics (S14).
    */
  def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val byName = existing.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { old =>
        require(old.dataType == f.dataType,
          s"Column type change unsupported: ${f.name} ${old.dataType} -> ${f.dataType}")
      }
    }
    StructType(existing.fields.toSeq ++ incoming.fields.filterNot(f => byName.contains(f.name)))
  }

  /** Strip scheme+authority so `input_file_name()` output and
    * driver-constructed URIs compare equal across `file:/` vs `file:///`
    * normalization differences.
    */
  def normalizePath(s: String): String =
    s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
      .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")

  def normalizePathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")
}
