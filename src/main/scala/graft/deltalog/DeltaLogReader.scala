package graft.deltalog

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.txlog._

/** `_last_checkpoint` pointer: `{version, size}`
  * (DeltaTableGateway.cs:20-26, :264-283).
  */
final case class LastCheckpoint(version: Long, size: Long)

/** Reads a Delta Lake transaction log without delta-spark: commit JSONs are
  * parsed on the driver with Jackson (one open per file, one `readTree` per
  * line), parquet checkpoints via `spark.read.parquet` with the explicit
  * [[DeltaLogReader.ActionSchema]] (Spark decodes the nested add/remove/
  * metaData structs natively — the reference hand-rolls repetition-level
  * decoding, TransactionLogEntry.cs:365-554; we get S5 for free).
  *
  * Scale posture: every caller folds the log on the driver anyway, and a
  * poll's commits are a few kB each, so parsing them in place launches no
  * Spark job (the reference folds on its CLI the same way,
  * TransactionLog.cs:72-196). Only the checkpoint — O(live files) — goes
  * through a distributed scan. Only file-level *metadata* (one small item
  * per data file) ever reaches the driver — O(files), never O(rows).
  *
  * Reference: Storage/DeltaLake/DeltaTableGateway.cs (S1-S5, O1, W5),
  * TransactionLogEntry.cs:123-172 (JSON parse), :278-315 (schema extraction).
  */
class DeltaLogReader(
    spark: SparkSession,
    tablePath: String,
    mirrorTableName: String,
    readAhead: Int = DeltaLogReader.DefaultReadAhead
) {
  import DeltaLogReader._

  private val logPath = new Path(tablePath, "_delta_log")
  private def fs: FileSystem =
    logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test-visible I/O accounting: commit files parsed / checkpoints loaded by
    * this reader instance — lets tests pin the metadata cost of rebuild paths
    * (e.g. "a fresh snapshot opens only the checkpoint + trailing commits").
    */
  private[graft] val commitFilesRead   = new java.util.concurrent.atomic.AtomicLong
  private[graft] val checkpointsLoaded = new java.util.concurrent.atomic.AtomicLong

  /** One LIST of `_delta_log` (empty when the log does not exist yet). */
  private def listLog(): Seq[Path] =
    if (!fs.exists(logPath)) Seq.empty
    else fs.listStatus(logPath).toSeq.map(_.getPath)

  /** S1/S2: list commit blobs, optionally bounded, in tx order. */
  def listCommits(fromTxId: Long = 0L, toTxId: Long = Long.MaxValue): Seq[(Long, Path)] =
    commitsIn(listLog(), fromTxId, toTxId)

  private def commitsIn(logFiles: Seq[Path], fromTxId: Long, toTxId: Long): Seq[(Long, Path)] =
    logFiles
      .flatMap(p => extractTxId(p.getName).map(_ -> p))
      .filter { case (tx, _) => tx >= fromTxId && tx <= toTxId }
      .sortBy(_._1)

  /** S4: `_last_checkpoint` pointer (driver-side — a few bytes). */
  def readLastCheckpoint(): Option[LastCheckpoint] = {
    val p = new Path(logPath, "_last_checkpoint")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val node = Mapper.readTree(in)
        Some(LastCheckpoint(node.get("version").asLong, node.get("size").asLong))
      } finally in.close()
    }
  }

  /** S3: parse a *set* of commit blobs on the driver and return one TxLog
    * per commit that holds engine actions, in tx order.
    */
  def readCommits(commits: Seq[(Long, Path)]): Seq[TxLog] = {
    commitFilesRead.addAndGet(commits.size)
    // commits with no engine item (commitInfo, a lone txn) are skipped; the
    // tx range still advances past them when a later non-empty commit lands
    // in the same batch.
    commits.flatMap { case (tx, p) => parseCommit(tx, p) }
  }

  /** One commit file → its engine items and `txn` versions. Both torn-write
    * shapes fail LOUDLY: a line that is not a JSON object (or holds a
    * wrong-typed field the engine consumes) would otherwise map to no
    * actions and silently present the table as empty/behind — the same
    * failure class as a log gap; and a file with no records at all (zero
    * bytes, or whitespace only) is never a valid commit, which always holds
    * ≥1 action line.
    */
  private def parseCommit(tx: Long, p: Path): Option[TxLog] = {
    val now     = Instant.now()
    val out     = Seq.newBuilder[TransactionItem]
    val txns    = Map.newBuilder[String, Long]
    var records = 0
    val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) { // blank lines are not records (as in JSON Lines)
          def corrupt(why: String) = new IllegalStateException(
            s"Corrupt Delta commit JSON in $p for table $mirrorTableName ($why): " +
              s"'${line.take(120)}' — refusing to read")
          val node =
            try Mapper.readTree(line)
            catch { case e: JsonProcessingException => throw corrupt(e.getOriginalMessage) }
          if (!node.isObject) throw corrupt("not a JSON object")
          records += 1
          val action = JsonFields(node)
          try { out ++= toItems(action, tx, tx, now); txns ++= txnOf(action) }
          catch { case e: WrongType => throw corrupt(e.getMessage) }
        }
        line = in.readLine()
      }
    } finally in.close()
    if (records == 0)
      throw new IllegalStateException(
        s"Commit file $p of table $mirrorTableName (tx $tx) contains no JSON records " +
          "(torn write?) — refusing to read")
    val items = out.result()
    if (items.isEmpty) None else Some(TxLog(items).copy(txns = txns.result()))
  }

  /** S5/O1: read a `<v>.checkpoint.parquet` (possibly multi-part) into one
    * cumulative TxLog with the given tx range. `logFiles` is a `_delta_log`
    * listing the caller already holds (one LIST per snapshot, not two).
    */
  def readCheckpoint(version: Long, startTxId: Long, logFiles: Seq[Path] = listLog()): TxLog = {
    checkpointsLoaded.incrementAndGet()
    val prefix = f"$version%020d.checkpoint"
    val names = logFiles
      .filter { p =>
        val n = p.getName
        n.startsWith(prefix) && n.endsWith(".parquet")
      }
      .sortBy(_.getName)
    require(names.nonEmpty, s"Checkpoint parquet missing for version $version under $logPath")

    // multi-part integrity: the file name encodes <i>.<n>; a crash between
    // the delete-then-rename steps of a re-checkpoint (or a concurrent poll)
    // can expose a subset — reading it silently would drop add actions, so
    // validate the set is complete and not mixed with the single-file form
    val MultiPart = raw"\d{20}\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r
    val parts     = names.map(_.getName).collect { case MultiPart(i, n) => (i.toInt, n.toInt) }
    if (parts.nonEmpty) {
      val declared = parts.map(_._2).distinct
      val indices  = parts.map(_._1).sorted
      // the indices must be EXACTLY 1..n — a count-only check passes mixed
      // sets like {single-file form, part 2/3, part 3/3} (3 files, n=3),
      // which double-counts or drops actions; and no single-file-form name
      // may coexist with multi-part names (names.length == parts.length)
      require(declared.size == 1 && names.length == parts.length &&
        indices == (1 to declared.head),
        s"Incomplete or mixed checkpoint for version $version: found ${names.length} " +
          s"file(s) ${names.map(_.getName).mkString(", ")} but part names declare " +
          s"${declared.mkString("/")} parts with indices ${indices.mkString(",")}")
    }

    // the explicit schema skips footer inference (a Spark job per read);
    // columns a checkpoint lacks read as null. `protocol` is included: real
    // Delta checkpoints embed the protocol action and later commits don't
    // restate it — reading it keeps the minReaderVersion gate effective on
    // the checkpoint-bootstrap path too
    val rows = spark.read.schema(ActionSchema)
      .parquet(names.map(_.toUri.toString): _*)
      .select("metaData", "add", "remove", "txn", "protocol")
      .collect()
    TxLog(rows.toSeq.flatMap(rowItems(_, startTxId, version)))
      .copy(txns = rows.flatMap(r => txnOf(RowFields(r))).toMap)
  }

  /** One action row typed by [[DeltaLogReader.ActionSchema]] → its items. */
  private[deltalog] def rowItems(row: Row, startTxId: Long, endTxId: Long): Seq[TransactionItem] =
    toItems(RowFields(row), startTxId, endTxId, Instant.now())

  /** The scan planner (DeltaTableGateway.cs:71-122 / SURVEY §3.3): compute
    * the next coalesced batch of work given the already-applied state.
    *
    *   - If a Delta checkpoint exists and the applied state is ≥ 2 commits
    *     behind it, bootstrap from the checkpoint (log-skipping, O1) and
    *     diff against the applied state (`TxLog.delta`, J2), then fold in up
    *     to `readAhead` commits past the checkpoint (W5).
    *   - Otherwise replay at most `readAhead` new commit files and fold them
    *     (`TxLog.coalesce`, J1/U2).
    */
  def nextBatch(current: Option[TxLog]): Option[TxLog] = {
    val fromTxId = current.map(_.endTxId + 1).getOrElse(0L)
    readLastCheckpoint() match {
      case Some(ckpt) if fromTxId < ckpt.version =>
        val logFiles   = listLog()
        val cumulative = readCheckpoint(ckpt.version, startTxId = fromTxId, logFiles)
        val deltaLog = current match {
          case Some(c) => cumulative.delta(c)
          case None    => Some(cumulative)
        }
        val after = readCommits(checkContiguous(
          commitsIn(logFiles, ckpt.version + 1, ckpt.version + readAhead), ckpt.version + 1))
        val logs = deltaLog.toSeq ++ after
        if (logs.isEmpty) None else Some(TxLog.coalesce(logs))
      case _ =>
        val commits = checkContiguous(
          listCommits(fromTxId, fromTxId + readAhead - 1), fromTxId)
        val logs = readCommits(commits)
        if (logs.isEmpty) None
        else Some(TxLog.coalesce(logs))
    }
  }

  /** The complete current state of the table: checkpoint-bootstrap when one
    * exists (O1), else full commit replay. Unlike [[nextBatch]] there is no
    * read-ahead cap — this is the "open the table" path, not the poll path.
    *
    * A log with a checkpoint but ZERO commit JSONs (real Delta log-retention
    * cleanup leaves exactly this) is NOT empty: fall back to the
    * `_last_checkpoint` state instead of returning None.
    */
  def fullSnapshot(): Option[TxLog] = {
    val logFiles = listLog()
    commitsIn(logFiles, 0L, Long.MaxValue).lastOption match {
      case Some((last, _)) => snapshotAsOf(last, logFiles)
      case None =>
        readLastCheckpoint().map(c => readCheckpoint(c.version, startTxId = 0L, logFiles))
    }
  }

  /** Table state as of commit `version` (inclusive) — time travel, and the
    * shared fold under [[fullSnapshot]]. Bootstraps from the NEWEST on-disk
    * checkpoint at or before `version` (older checkpoints are never deleted,
    * so travel below the latest checkpoint stays O(recent), not O(full log)).
    * Returns None when the log is empty. Throws on a version beyond the
    * latest commit — silently returning the current state would let the same
    * version argument mean different data over time (Delta's versionAsOf
    * errors the same way).
    */
  def snapshotAsOf(version: Long): Option[TxLog] = snapshotAsOf(version, listLog())

  // one LIST of the log dir serves the commit list, the checkpoint versions
  // and the checkpoint part names — directory LIST is the dominant metadata
  // cost on object stores
  private def snapshotAsOf(version: Long, logFiles: Seq[Path]): Option[TxLog] = {
    val commits = commitsIn(logFiles, 0L, Long.MaxValue)
    if (commits.isEmpty) return None
    val last = commits.last._1
    require(version >= 0 && version <= last,
      s"Version $version is out of range: table $mirrorTableName has commits 0..$last")
    // newest usable checkpoint first; a torn multi-part set (crash between
    // the rename steps of a re-checkpoint) is skipped in favor of an older
    // checkpoint or full replay — commits are never deleted, so the fold
    // stays correct, only slower
    val fromCheckpoint = checkpointVersions(logFiles).filter(_ <= version).reverse.view
      .flatMap { ckptV =>
        try {
          val cumulative = readCheckpoint(ckptV, startTxId = 0L, logFiles)
          val after = readCommits(
            checkContiguous(commits.filter(_._1 > ckptV), ckptV + 1).filter(_._1 <= version))
          Some(TxLog.coalesce(cumulative +: after))
        } catch {
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(_.contains("Incomplete or mixed checkpoint")) =>
            None
        }
      }
      .headOption
    fromCheckpoint.orElse {
      val logs = readCommits(checkContiguous(commits.filter(_._1 <= version), 0L))
      if (logs.isEmpty) None else Some(TxLog.coalesce(logs))
    }
  }

  /** Versions with a (single- or multi-part) checkpoint parquet on disk. */
  private def checkpointVersions(logFiles: Seq[Path]): Seq[Long] = {
    val Ckpt = raw"(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet".r
    logFiles.map(_.getName).collect { case Ckpt(v, _) => v.toLong }.distinct.sorted
  }

  /** A vacuumed/gappy log means unrecoverable history — fail loudly rather
    * than silently skipping commits. (Gaps *above* `from` are impossible in a
    * healthy Delta log; a missing head means the state references vacuumed
    * commits.)
    */
  private def checkContiguous(commits: Seq[(Long, Path)], from: Long): Seq[(Long, Path)] = {
    commits.headOption.foreach { case (tx, _) =>
      require(tx == from, s"Delta log gap: expected commit $from, found $tx")
    }
    // (an empty list is trivially contiguous)
    commits.zipWithIndex.foreach { case ((tx, _), i) =>
      require(tx == from + i, s"Delta log gap at commit ${from + i} (found $tx)")
    }
    commits
  }

  // ---- action → item mapping ---------------------------------------------

  /** One action record (a commit-JSON line or a checkpoint row) → its
    * engine items, in protocol / metaData / add / remove order.
    */
  private def toItems(
      action: Fields, startTxId: Long, endTxId: Long, now: Instant): Seq[TransactionItem] = {
    val out = Seq.newBuilder[TransactionItem]
    def item(act: TxAction, ts: Option[Long]) = TransactionItem(
      tableName = mirrorTableName,
      startTxId = startTxId,
      endTxId = endTxId,
      action = act,
      state = TxState.Initial,
      mirrorTimestamp = now,
      deltaTimestamp = ts.map(Instant.ofEpochMilli))

    // protocol gate: reader version 1 is the classic parquet protocol this
    // engine implements; higher versions introduce features (deletion
    // vectors, column mapping) that change what the data files MEAN — reading
    // on regardless would silently resurrect deleted rows. Fail loudly, the
    // same stance as the reference's parquet-only format check.
    action.struct("protocol").foreach { p =>
      val minReader = p.int("minReaderVersion").getOrElse(1)
      require(minReader <= 1,
        s"Unsupported Delta protocol: minReaderVersion=$minReader (this reader implements version 1; " +
          "newer reader features like deletion vectors or column mapping would be silently misread)")
    }

    action.struct("metaData").foreach { m =>
      val provider = m.struct("format").flatMap(_.str("provider")).orNull
      require(
        provider == null || provider.equalsIgnoreCase("parquet"),
        s"Only parquet-format Delta tables are supported, got '$provider'")
      val schema = DataType.fromJson(m.str("schemaString").orNull).asInstanceOf[StructType]
      out += item(TxAction.Schema, m.long("createdTime")).copy(
        partitionColumns = Some(m.strSeq("partitionColumns").getOrElse(Nil)),
        schema = Some(schema.fields.toSeq.map(f => ColumnSpec(f.name, f.dataType.sql))),
        internalState = InternalState(
          deltaTableId = m.str("id"),
          deltaTableName = m.str("name")))
    }

    action.struct("add").foreach { a =>
      out += item(TxAction.Add, a.long("modificationTime")).copy(
        blobPath = a.str("path"),
        partitionValues = a.strMap("partitionValues"),
        size = a.long("size"),
        recordCount = a.str("stats").flatMap(parseNumRecords),
        tags = a.strMap("tags"))
    }

    action.struct("remove").foreach { r =>
      out += item(TxAction.Remove, r.long("deletionTimestamp")).copy(
        blobPath = r.str("path"),
        // Synapse sometimes omits partition values on remove — keep nullable
        // (TransactionItem.cs:305-306, TransactionLogEntry.cs:257-261).
        partitionValues = r.strMap("partitionValues"),
        size = r.long("size"))
    }
    out.result()
  }

  /** A `txn` action → (appId, version); the protocol requires both. */
  private def txnOf(action: Fields): Option[(String, Long)] = action.struct("txn").map(t =>
    t.str("appId").zip(t.long("version")).getOrElse(throw new WrongType("txn lacks appId or version")))

  private def parseNumRecords(stats: String): Option[Long] =
    try {
      Option(Mapper.readTree(stats).get("numRecords")).map(_.asLong)
    } catch { case _: Exception => None }
}

object DeltaLogReader {
  /** Commit read-ahead bound — 10 commits per poll, cold or past a
    * checkpoint (DeltaTableGateway.cs:87-121, W5/BASELINE).
    */
  val DefaultReadAhead = 10

  val TxIdFormat                = "%020d"
  private val CommitFileRe: Regex = """^(\d{20})\.json$""".r
  private val Mapper            = new ObjectMapper()

  def extractTxId(fileName: String): Option[Long] = fileName match {
    case CommitFileRe(d) => Some(d.toLong)
    case _               => None
  }

  /** Typed, null-as-None access to the fields of one Delta action — the
    * shape both action sources share, so they map to items through one
    * `toItems`.
    */
  private sealed trait Fields {
    def struct(name: String): Option[Fields]
    def str(name: String): Option[String]
    def long(name: String): Option[Long]
    def int(name: String): Option[Int]
    def strMap(name: String): Option[Map[String, String]]
    def strSeq(name: String): Option[Seq[String]]
  }

  /** A checkpoint parquet row, read with [[ActionSchema]] (absent → null). */
  private final case class RowFields(row: Row) extends Fields {
    private def get[T](name: String): Option[T] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getAs[T](i))
    }
    def struct(name: String): Option[Fields] = get[Row](name).map(RowFields)
    def str(name: String): Option[String]    = get[String](name)
    def long(name: String): Option[Long]     = get[java.lang.Long](name).map(_.longValue)
    def int(name: String): Option[Int]       = get[java.lang.Integer](name).map(_.intValue)
    def strMap(name: String): Option[Map[String, String]] =
      get[scala.collection.Map[String, String]](name).map(_.toMap)
    def strSeq(name: String): Option[Seq[String]] =
      get[scala.collection.Seq[String]](name).map(_.toList)
  }

  /** A wrong JSON type in a field the engine consumes. */
  private final class WrongType(msg: String) extends RuntimeException(msg)

  /** A commit-JSON object, typed the way Spark's JSON source types it
    * against [[ActionSchema]]: JSON null or an absent field is None; a
    * string field takes any other value's JSON text; every other type
    * mismatch (a non-integral or oversized number, a non-object struct)
    * throws [[WrongType]] where Spark would mark the record corrupt.
    */
  private final case class JsonFields(node: JsonNode) extends Fields {
    private def get(name: String, want: String)(ok: JsonNode => Boolean): Option[JsonNode] =
      Option(node.get(name)).filterNot(_.isNull).map { v =>
        if (ok(v)) v else throw new WrongType(s"field '$name' is not $want: $v")
      }
    private def text(v: JsonNode): String = if (v.isTextual) v.asText else v.toString
    def struct(name: String): Option[Fields] =
      get(name, "an object")(_.isObject).map(JsonFields)
    def str(name: String): Option[String] = get(name, "a string")(_ => true).map(text)
    def long(name: String): Option[Long] =
      get(name, "a long")(v => v.isIntegralNumber && v.canConvertToLong).map(_.longValue)
    def int(name: String): Option[Int] =
      get(name, "an int")(v => v.isIntegralNumber && v.canConvertToInt).map(_.intValue)
    def strMap(name: String): Option[Map[String, String]] =
      get(name, "an object")(_.isObject).map { v =>
        v.properties.asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) null else text(e.getValue))
        }.toMap
      }
    def strSeq(name: String): Option[Seq[String]] =
      get(name, "an array")(_.isArray).map(
        _.elements.asScala.map(e => if (e.isNull) null else text(e)).toList)
  }

  /** Explicit Delta action schema (the public Delta protocol subset the
    * engine consumes — TransactionLogEntry.cs:19-120): the checkpoint
    * parquet layout, written and read without schema inference, and the
    * typing the driver-side commit-JSON parse follows.
    */
  val ActionSchema: StructType = StructType(Seq(
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      StructField("extendedFileMetadata", BooleanType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("tags", MapType(StringType, StringType))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType))))
  ))
}
