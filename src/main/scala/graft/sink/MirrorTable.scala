package graft.sink

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GraftFileWriter, GraftManifestScan}
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType, StringType, StructField, StructType}

import graft.deltalog.{DeltaLogReader, DeltaLogWriter}
import graft.txlog.{TransactionItem, TxLog}
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
  * (in add.tags), gathered by the staging write itself as the rows stream
  * through it, so a delete rewrites only the files that actually contain
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
    * commit; a later additive schema change re-commits it under the same
    * table id; a partition-column change is refused
    * (TransactionLog.cs:153-157).
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
        val merged = mergeSchemas(existing, full)
        if (merged != existing)
          writer.commit(Seq(writer.metaDataAction(tableId, name, merged, partitionColumns)))
    }
  }

  def currentMeta(): Option[(StructType, Seq[String])] = snapshotLog().flatMap(_.metadata).map(metaOf)

  /** The table's Delta `metaData.id`: minted once, kept across schema changes. */
  def tableId: String = snapshotLog().flatMap(_.metadata).flatMap(_.internalState.deltaTableId).getOrElse(
    throw new IllegalStateException(s"Mirror table $name has no table id"))

  /** The latest `txn` version of `appId` (a map lookup on the snapshot
    * memo): the exactly-once watermark of each writer into this mirror.
    */
  def txnVersion(appId: String): Option[Long] = snapshotLog().flatMap(_.txns.get(appId))

  private def metaOf(m: TransactionItem): (StructType, Seq[String]) =
    (KustoTypes.structFrom(m.schema.getOrElse(Seq.empty)), m.partitionColumns.getOrElse(Seq.empty))

  private def groupDir(stagingName: String, groupId: String): Path =
    new Path(new Path(dataPath, stagingName), groupId)

  private def addsFile(stagingName: String, groupId: String): Path =
    new Path(groupDir(stagingName, groupId), AddsFile)

  /** Whether a group's staging finished: its add actions are recorded. */
  def isStaged(stagingName: String, groupId: String): Boolean = fs.exists(addsFile(stagingName, groupId))

  /** Write one partition group's rows under the batch staging area
    * (invisible until publish) in ONE Spark job, and return the group's add
    * actions, also written to `<group>/_adds.json`. The write itself records
    * each file's source blobs, row count and `statsColumns` min/max, so
    * nothing re-reads or lists what it wrote. Overwrite-idempotent per
    * (staging, group): the group directory is cleared first.
    */
  def stage(
      stagingName: String,
      groupId: String,
      df: DataFrame,
      partitionValues: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Seq[String] = {
    val dir   = groupDir(stagingName, groupId)
    val stats = statsColumns.distinct.filter(df.columns.contains)
    fs.delete(dir, true)
    val written = GraftFileWriter.parquet(df, dir, KustoTypes.BlobPathColumn, stats.filter { c =>
      df.schema(c).dataType == StringType || df.schema(c).dataType.isInstanceOf[NumericType]
    })
    faultHook("stage.data-written")
    val actions = written.map(f =>
      addFor(s"data/$stagingName/$groupId/${f.path.getName}", f, partitionValues, stats))
    val tmp = new Path(dir, s"._adds.json.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(actions.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, addsFile(stagingName, groupId)))
      throw new IllegalStateException(s"Failed to record the staged adds of $dir")
    faultHook("stage.adds-written")
    actions
  }

  /** Publish the staged groups `groupIds` of `stagingName` in ONE commit of
    * the add actions their staging recorded plus `txn{appId, version}` —
    * no listing, no Spark job; the commit rename flips visibility. When
    * `appId` already holds `version` or later (a retry after a crash
    * between this commit and the caller's own bookkeeping), nothing is
    * committed. A named group whose staging never finished fails loudly.
    * Returns the commit version, or -1 if nothing was committed.
    */
  def publishStaged(stagingName: String, groupIds: Seq[String], appId: String, version: Long): Long = {
    if (txnVersion(appId).exists(_ >= version)) return -1L
    val staged = groupIds.distinct.flatMap { g =>
      val f = addsFile(stagingName, g)
      if (!fs.exists(f))
        throw new IllegalStateException(s"Staging group $g of $stagingName has no recorded adds ($f)")
      val in = fs.open(f)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8).split('\n').filter(_.nonEmpty).toSeq
      finally in.close()
    }
    if (staged.isEmpty) return -1L
    faultHook("publish.pre-commit")
    val v = graft.util.PhaseTimer.time("publish.commit")(
      writer.commit(staged :+ writer.txnAction(appId, version)))
    faultHook("publish.committed")
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

    rewriteGroups("delete", affected.groupBy(_.partitionValues).toSeq.sortBy(_._1.toString),
      statsColumns, parallelism)((in, _) => in.filter(keep))
  }

  /** Rewrite each partition group's live files through `rewrite` and commit,
    * in ONE commit, their removes plus the add actions the rewrite's staging
    * returned; the rewritten files keep their group's partition values and
    * the stat columns their inputs carried (as well as `statsColumns`), so
    * file pruning keeps working.
    *
    * One rewrite job per group, not per file — a delete touching 10k files
    * submits tens of group jobs (bounded-parallel), each reading all its
    * files in one MANIFEST scan (lengths come from the commit log; no
    * per-path listing). The reads use the TABLE schema, not footer
    * inference: schema evolution is additive-only (mergeSchemas refuses type
    * changes), so every live file holds a subset of it and older files
    * surface the newer columns as nulls, where inference from a sampled old
    * footer would stage the rewrite without the column and erase its values.
    */
  private def rewriteGroups(
      prefix: String,
      groups: Seq[(Map[String, String], Seq[LiveFile])],
      statsColumns: Seq[String],
      parallelism: Int)(rewrite: (DataFrame, Seq[LiveFile]) => DataFrame): Long = {
    val stagingName = s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"
    val meta  = tableMeta()
    val stats = (statsColumns ++ groups.flatMap(_._2).flatMap(a => statKeys(a.tags))).distinct
    val actions = graft.util.BoundedPar.run(groups.zipWithIndex, parallelism) {
      case ((pv, adds), i) =>
        adds.map(a => writer.removeAction(a.path, Some(a.partitionValues))) ++
          stage(stagingName, s"g$i", rewrite(manifestRead(meta, adds), adds), pv, stats)
    }
    val v = writer.commit(actions.flatten)
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
    * pruned read to conservatively include the compacted files). A group of
    * one small file is rewritten only when its stats tag lacks a requested
    * stats or `clusterBy` column — a column with no usable bound is recorded
    * as null, so such a file is not rewritten again.
    *
    * `clusterBy` additionally range-partitions each group's rows on the
    * given columns before writing — output files then carry disjoint
    * min/max ranges, so the scan's file skipping answers range filters on
    * those columns without opening unrelated files (the ZORDER-lite of a
    * single-dimension sort).
    * Returns the commit version, or -1 if nothing to compact.
    */
  def optimize(
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Long = {
    val wanted = (statsColumns ++ clusterBy).filter(tableMeta()._1.fieldNames.contains)
    val groups = liveAdds().filter(_.size < smallFileBytes)
      .groupBy(_.partitionValues)
      .filter { case (_, files) => files.size >= 2 || files.exists(f => !wanted.forall(statKeys(f.tags))) }
      .toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
    if (groups.isEmpty) return -1L

    // stats recorded for clusterBy columns too — the whole point of range
    // clustering is that the resulting min/max ranges drive skipping
    rewriteGroups("optimize", groups, statsColumns ++ clusterBy, parallelism = 1) {
      (in, files) =>
        val nOut = math.max(1, math.ceil(files.map(_.size).sum.toDouble / targetFileBytes).toInt)
        if (clusterBy.isEmpty) in.repartition(nOut)
        else in.repartitionByRange(nOut, clusterBy.map(col): _*).sortWithinPartitions(clusterBy.map(col): _*)
    }
  }

  /** Live file inventory straight from the commit log — no data scan. Tags
    * (lineage + stats) ride the snapshot fold itself, which bootstraps from
    * the latest sink checkpoint: a rebuild is O(checkpoint + trailing
    * commits), never O(entire commit log), on a long-lived mirror.
    */
  def liveAdds(): Seq[LiveFile] = snapshotLog().toSeq.flatMap(_.adds).map(LiveFile.of)

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
    val live = liveAdds().map(a => fs.makeQualified(new Path(root, a.path))).toSet
    if (!fs.exists(dataPath)) return 0
    var deleted = 0
    val it = fs.listFiles(dataPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") && !live.contains(fs.makeQualified(f.getPath))
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
    * (source columns + lineage columns). Filters on the frame prune files:
    * see [[manifestRead]].
    */
  def snapshot(): DataFrame = manifestRead(tableMeta(), liveAdds())

  /** Parquet over live files served from the commit log — zero filesystem
    * listing at plan time (the log IS the manifest; a 10⁶-file snapshot must
    * not pay a 10⁶-path glob+list per read). Our own publisher always records
    * true lengths; the scan lists a log that did not.
    *
    * The manifest scan skips files whose bounds rule out the query's pushed
    * filters. A partition column's bounds are its recorded value, cast to the
    * column type as staging casts it (min = max); a null value or a failed
    * cast leaves it unbounded. Other numeric and string columns use the
    * recorded `graft.stats` min/max, numeric ones in the double domain they
    * were recorded in. The tag is decoded only when a filter names such a
    * column.
    */
  private def manifestRead(
      meta: (StructType, Seq[String]),
      files: Seq[LiveFile],
      constantSchema: StructType = StructType(Nil),
      constants: Seq[Seq[Any]] = Nil): DataFrame = {
    val (schema, pcols) = meta
    val boundTypes = schema.fields.collect {
      case f if f.dataType == StringType => f.name -> StringType
      case f if f.dataType.isInstanceOf[NumericType] =>
        f.name -> (if (pcols.contains(f.name)) f.dataType else DoubleType)
    }.toMap
    def bounds(a: LiveFile): GraftManifestScan.FileBounds = cols => {
      lazy val stats = recordedStats(a.tags)
      cols.flatMap { c =>
        if (pcols.contains(c))
          a.partitionValues.get(c).flatMap(v => Try(Cast(Literal(v), boundTypes(c)).eval()).toOption)
            .flatMap(Option(_)).map(v => c -> ((v, v)))
        else stats.get(c).map(c -> _)
      }.toMap
    }
    GraftManifestScan.parquet(spark, schema,
      files.map(a => GraftManifestScan.status(new Path(root, a.path), a.size)),
      boundTypes = boundTypes, bounds = files.map(bounds),
      constantSchema = constantSchema, constants = constants)
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
    manifestRead(log.metadata.map(metaOf).getOrElse(tableMeta()),
      log.adds.filter(_.blobPath.isDefined).map(LiveFile.of))
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
    * read over exactly the added files, each carrying its version as a
    * constant column; like [[snapshotAt]], reach is bounded by vacuum
    * retention.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val meta = tableMeta()
    val logs = reader.readCommits(reader.listCommits(fromVersion + 1, toVersion))
    // a path re-added at multiple versions inside the range yields ONE row
    // per data row, tagged with the LATEST introducing commit — matching the
    // manifest scan's last-entry-wins read of the file
    val added = logs.flatMap { l =>
      l.adds.filter(_.blobPath.isDefined).map(a => (LiveFile.of(a), l.startTxId))
    }.groupBy(_._1.path).valuesIterator.map(_.maxBy(_._2)).toSeq.sortBy(_._2)
    // a range reaching vacuumed history must fail with the CONTRACT, not a
    // raw PATH_NOT_FOUND from the scan (metadata-bounded existence check)
    val vacuumed = added.collect {
      case (a, v) if !fs.exists(new Path(root, a.path)) => s"${new Path(root, a.path)} (commit $v)"
    }
    if (vacuumed.nonEmpty)
      throw new IllegalStateException(
        s"changesBetween($fromVersion, $toVersion) reaches ${vacuumed.size} file(s) already " +
          s"reclaimed by VACUUM — narrow the range or raise vacuum retention. First: ${vacuumed.head}")
    manifestRead(meta, added.map(_._1),
      StructType(Seq(StructField(KustoTypes.CommitVersionColumn, LongType))), added.map(t => Seq(t._2)))
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
  private[graft] def statsOf(a: LiveFile, column: String): Option[(Double, Double)] =
    recordedStats(a.tags).get(column).collect { case (mn: Double, mx: Double) => (mn, mx) }

  /** Recorded lexicographic string (min,max) of `column`, if kept. */
  private[graft] def strStatsOf(a: LiveFile, column: String): Option[(String, String)] =
    recordedStats(a.tags).get(column).collect { case (mn: String, mx: String) => (mn, mx) }

  // ---- internals ----------------------------------------------------------

  private def tableMeta(): (StructType, Seq[String]) = currentMeta().getOrElse(
    throw new IllegalStateException(s"Mirror table $name has no schema commit"))

  /** The add action of one written file. Its tags are the source-blob
    * lineage plus, when `statsColumns` is non-empty, their min/max (JSON:
    * {"col":[min,max],...} — numbers for numeric columns, JSON strings for
    * string columns, null for a column without a usable bound; keys sorted
    * for determinism). Numeric bounds are doubles widened one ulp outward;
    * NaN or infinite bounds would serialize to invalid JSON and are null.
    */
  private def addFor(
      rel: String, f: GraftFileWriter.WrittenFile, pv: Map[String, String], statsColumns: Seq[String]): String = {
    val lineageTag = Map(SourceBlobsTag -> M.writeValueAsString(f.distinct.toArray))
    val tags = if (statsColumns.isEmpty) lineageTag else {
      val node = M.createObjectNode()
      statsColumns.sorted.foreach { c =>
        f.bounds.get(c).flatMap {
          case (mn: String, mx: String) => truncateBounds(mn, mx)
          case (lo: Double, hi: Double) if java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi) =>
            // the double cast rounds 64-bit integers beyond 2^53 — possibly
            // INWARD, which would let the scan prune a file that holds
            // matching rows (skip at ±MaxValue, where widening would leave
            // the finite domain)
            val loW = { val w = Math.nextDown(lo); if (java.lang.Double.isFinite(w)) w else lo }
            val hiW = { val w = Math.nextUp(hi); if (java.lang.Double.isFinite(w)) w else hi }
            Some((loW, hiW))
          case _ => None
        } match {
          case Some((mi, ma)) => node.set[JsonNode](c, M.valueToTree[JsonNode](Array(mi, ma)))
          case None           => node.putNull(c)
        }
      }
      lineageTag + (StatsTag -> M.writeValueAsString(node))
    }
    writer.addAction(rel, f.size, pv, Some(f.rows), tags = tags)
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

  object LiveFile {
    def of(a: TransactionItem): LiveFile = LiveFile(a.blobPath.get,
      a.partitionValues.getOrElse(Map.empty), a.size.getOrElse(0L), a.tags.getOrElse(Map.empty))
  }

  /** Name of the file, in each staged group's directory, holding the group's
    * add actions, one JSON line each, exactly as they are committed.
    */
  private val AddsFile = "_adds.json"

  /** Test-only fault injection, shaped like `CheckpointStore.faultHook`:
    * invoked after a group's data write (`stage.data-written`), after its
    * `_adds.json` (`stage.adds-written`), and before and after publish's
    * commit (`publish.pre-commit`, `publish.committed`). A throwing hook
    * aborts the operation where a kill would. Production leaves the no-op.
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  /** The `graft.stats` tag of a file decoded: column → (min, max), Doubles
    * for numeric columns and Strings for string columns. Every reader of the
    * tag goes through here.
    */
  private def recordedStats(tags: Map[String, String]): Map[String, (Any, Any)] =
    tags.get(StatsTag).fold(Map.empty[String, (Any, Any)]) { json =>
      M.readTree(json).properties().asScala.flatMap { e =>
        val b = e.getValue
        if (b.size != 2) None
        else if (b.get(0).isNumber && b.get(1).isNumber)
          Some(e.getKey -> ((b.get(0).asDouble, b.get(1).asDouble)))
        else if (b.get(0).isTextual && b.get(1).isTextual)
          Some(e.getKey -> ((b.get(0).asText, b.get(1).asText)))
        else None
      }.toMap
    }

  /** The columns a file's `graft.stats` tag names, null bounds included. */
  private def statKeys(tags: Map[String, String]): Set[String] =
    tags.get(StatsTag).fold(Set.empty[String])(M.readTree(_).properties().asScala.map(_.getKey).toSet)

  /** Conservative truncation of recorded string stat bounds to `cap` code
    * points. Spark computes min/max, and the scan tests them, in UTF8_BINARY
    * order, which is code-point order, so truncation works on code points:
    * the min keeps a prefix (≤ the true min); the max keeps a prefix and
    * increments its last code point, stepping over the surrogate range
    * (strictly above every string sharing the prefix). Returns None — no
    * usable bound — only when that code point is U+10FFFF, which has no
    * successor.
    */
  private[graft] def truncateBounds(
      mn: String, mx: String, cap: Int = 64): Option[(String, String)] = {
    def prefix(s: String) = s.substring(0, s.offsetByCodePoints(0, math.min(cap, s.codePointCount(0, s.length))))
    if (mx.codePointCount(0, mx.length) <= cap) Some((prefix(mn), mx))
    else {
      val t    = prefix(mx)
      val last = t.codePointBefore(t.length)
      if (last == Character.MAX_CODE_POINT) None
      else Some((prefix(mn), t.substring(0, t.length - Character.charCount(last)) +
        Character.toString(if (last == Character.MIN_SURROGATE - 1) Character.MAX_SURROGATE + 1 else last + 1)))
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

}
