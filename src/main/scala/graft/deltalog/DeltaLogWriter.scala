package graft.deltalog

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Writes a Delta-protocol transaction log (`_delta_log/<v>.json` commits,
  * `<v>.checkpoint.parquet`, `_last_checkpoint`) — the same public format the
  * reader consumes (FIXTURES.md §A3). Used two ways:
  *
  *   1. the mirror sink's commit protocol: atomic-visibility publish is a
  *      temp-file + rename of the next commit file (the Spark restatement of
  *      Kusto's `.move extents` metadata-only publish, O11);
  *   2. test fixtures reproducing the reference's PySpark-generated tables
  *      (the Simple/Scripts PySpark files).
  *
  * A rename onto an existing commit file fails ⇒ optimistic concurrency: two
  * concurrent committers cannot both win a version. On HDFS/ABFS that's a
  * server-side atomic guarantee; Hadoop's LOCAL FileSystem only checks
  * destination existence BEFORE the underlying POSIX rename (TOCTOU: two
  * in-flight renames can both pass the check and one silently overwrites the
  * other — CommitRaceSpec reproduces the loss without the guard). Same-JVM
  * committers therefore serialize on a per-logPath lock, mirroring
  * CheckpointStore's locking; cross-PROCESS local-FS writers remain the
  * caller's responsibility (as in Delta itself, which requires an atomic
  * LogStore for that).
  */
class DeltaLogWriter(spark: SparkSession, tablePath: String) {
  import DeltaLogWriter._

  private val root    = new Path(tablePath)
  private val logPath = new Path(root, "_delta_log")
  private def fs: FileSystem =
    logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitLock: Object = {
    val key = fs.makeQualified(logPath).toString
    DeltaLogWriter.Locks.computeIfAbsent(key, _ => new Object)
  }

  def nextVersion(): Long = {
    if (!fs.exists(logPath)) return 0L
    val versions = fs.listStatus(logPath).flatMap(s => DeltaLogReader.extractTxId(s.getPath.getName))
    if (versions.isEmpty) 0L else versions.max + 1
  }

  /** Append one commit of raw action JSON lines; returns the version. */
  def commit(actionJsonLines: Seq[String]): Long = commitLock.synchronized {
    if (!fs.exists(logPath)) fs.mkdirs(logPath)
    val v    = nextVersion()
    val name = f"$v%020d.json"
    val tmp  = new Path(logPath, s".$name.tmp-${java.util.UUID.randomUUID()}")
    val out  = fs.create(tmp, false)
    try out.write((actionJsonLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logPath, name))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"Commit conflict at version $v of $tablePath")
    }
    v
  }

  def metaDataAction(
      id: String,
      name: String,
      schema: StructType,
      partitionColumns: Seq[String]): String = {
    val n = M.createObjectNode()
    val m = n.putObject("metaData")
    m.put("id", id)
    m.put("name", name)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    m.putObject("configuration")
    m.put("createdTime", System.currentTimeMillis())
    n.toString
  }

  def addAction(
      path: String,
      size: Long,
      partitionValues: Map[String, String],
      numRecords: Option[Long],
      tags: Map[String, String] = Map.empty): String = {
    val n = M.createObjectNode()
    val a = n.putObject("add")
    a.put("path", path)
    val pv = a.putObject("partitionValues")
    partitionValues.foreach { case (k, v) => pv.put(k, v) }
    a.put("size", size)
    a.put("modificationTime", System.currentTimeMillis())
    a.put("dataChange", true)
    numRecords.foreach(c => a.put("stats", s"""{"numRecords":$c}"""))
    if (tags.nonEmpty) {
      val t = a.putObject("tags")
      tags.foreach { case (k, v) => t.put(k, v) }
    }
    n.toString
  }

  def removeAction(path: String, partitionValues: Option[Map[String, String]] = None): String = {
    val n = M.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", System.currentTimeMillis())
    r.put("dataChange", true)
    partitionValues.foreach { pv0 =>
      val pv = r.putObject("partitionValues")
      pv0.foreach { case (k, v) => pv.put(k, v) }
    }
    n.toString
  }

  /** Delta's `txn` (PROTOCOL.md, "Transaction Identifiers"): application
    * `appId` has committed `version`, atomically with the commit's adds.
    */
  def txnAction(appId: String, version: Long): String = {
    val n = M.createObjectNode()
    val t = n.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    t.put("lastUpdated", System.currentTimeMillis())
    n.toString
  }

  /** Materialize `folded` — the table state as of commit `version`, which
    * the caller already holds — as that version's
    * `<v>.checkpoint.parquet` + `_last_checkpoint` pointer (what Delta
    * writers do every N commits; lets readers log-skip, O1).
    *
    * `numParts > 1` emits the protocol's multi-part form
    * `<v>.checkpoint.<i>.<n>.parquet` (+ `"parts"` in `_last_checkpoint`) —
    * what real Delta writers produce once the file count outgrows a single
    * checkpoint parquet, i.e. exactly the 100 TB regime.
    */
  def writeCheckpoint(folded: graft.txlog.TxLog, version: Long, numParts: Int = 1): Long = {
    require(numParts >= 1, "numParts must be >= 1")
    val rows: Seq[Row] = folded.metadata.map { m =>
      val schemaJson = graft.types.KustoTypes.structFrom(m.schema.getOrElse(Seq.empty)).json
      Row(
        Row(m.internalState.deltaTableId.orNull, m.internalState.deltaTableName.orNull, null,
          Row("parquet", Map.empty[String, String]), schemaJson,
          m.partitionColumns.getOrElse(Seq.empty), Map.empty[String, String],
          m.deltaTimestamp.map(t => java.lang.Long.valueOf(t.toEpochMilli)).orNull),
        null, null, null, null)
    }.toSeq ++
      folded.adds.map { a =>
        Row(null,
          Row(a.blobPath.orNull, a.partitionValues.getOrElse(Map.empty),
            a.size.map(java.lang.Long.valueOf).orNull,
            a.deltaTimestamp.map(t => java.lang.Long.valueOf(t.toEpochMilli)).orNull,
            java.lang.Boolean.TRUE,
            a.recordCount.map(c => s"""{"numRecords":$c}""").orNull,
            // add.tags (lineage + stats) persist through the checkpoint so
            // tag rebuilds stay O(checkpoint + trailing commits), same as the
            // snapshot fold — not O(entire commit log)
            a.tags.orNull),
          null, null, null)
      } ++
      folded.removes.map { r =>
        Row(null, null,
          Row(r.blobPath.orNull,
            r.deltaTimestamp.map(t => java.lang.Long.valueOf(t.toEpochMilli)).orNull,
            java.lang.Boolean.TRUE, null, r.partitionValues.orNull,
            r.size.map(java.lang.Long.valueOf).orNull, null),
          null, null)
      } ++
      folded.txns.map { case (app, v) => Row(null, null, null, Row(app, v, null), null) }

    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), DeltaLogReader.ActionSchema)
    val tmpDir = new Path(logPath, s".ckpt-tmp-${java.util.UUID.randomUUID()}")
    df.repartition(numParts).write.mode("overwrite").parquet(tmpDir.toString)
    val parts = fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.nonEmpty, "checkpoint part file missing")

    // a re-checkpoint of the same version (possibly with a different part
    // count) must not leave stale files behind: the reader globs on the
    // "<v>.checkpoint" prefix and would double-count every action
    fs.listStatus(logPath).map(_.getPath)
      .filter { p =>
        p.getName.startsWith(f"$version%020d.checkpoint") && p.getName.endsWith(".parquet")
      }
      .foreach(fs.delete(_, false))

    // name by the ACTUAL written part count — a near-empty state can yield
    // fewer files than requested (empty write tasks emit no file), and the
    // protocol requires the name's <n> and the pointer's "parts" to match
    // the files on disk
    val actualParts = parts.length
    parts.zipWithIndex.foreach { case (part, idx) =>
      val target =
        if (actualParts == 1) new Path(logPath, f"$version%020d.checkpoint.parquet")
        else new Path(logPath,
          f"$version%020d.checkpoint.${idx + 1}%010d.$actualParts%010d.parquet")
      fs.rename(part, target)
    }
    fs.delete(tmpDir, true)

    val partsField = if (actualParts == 1) "" else s""","parts":$actualParts"""
    val lc  = new Path(logPath, "_last_checkpoint")
    val tmp = new Path(logPath, s"._last_checkpoint.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"""{"version":$version,"size":${rows.size}$partsField"""
      .concat("}").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(lc)) fs.delete(lc, false)
    fs.rename(tmp, lc)
    version
  }
}

object DeltaLogWriter {
  private val M = new ObjectMapper()

  // per-logPath commit lock: serializes same-JVM committers (the local-FS
  // rename TOCTOU guard documented on the class)
  private val Locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
