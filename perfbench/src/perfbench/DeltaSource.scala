package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A seeded Delta source partitioned by `part` (p0..p3), written by the
  * benchmark itself: the parquet files come from one Spark job over
  * `spark.range`, and the log is plain protocol-1 JSON commits, so the
  * program's own Delta writer is not part of the input path.
  *
  * File `fid` holds rows `fid * rowsPerFile until (fid + 1) * rowsPerFile`,
  * every id distinct; `v` and `s` are hashes of (id, seed).
  */
final class DeltaSource(spark: SparkSession, val dir: Path, rowsPerFile: Int, seed: Long) {
  import DeltaSource._

  private val files   = mutable.Map.empty[Int, (String, String, Long)] // fid -> (part, relPath, size)
  private val liveSet = mutable.LinkedHashSet.empty[Int]
  private var version = -1L

  /** Writes the parquet files of `fids` (a contiguous id range) under
    * `part=<part>/`; they stay invisible until a commit adds them.
    */
  def generate(fids: Range, partOf: Int => String): Unit = {
    val gen = dir.resolve(".gen")
    // a task writes whole files only: the slice count divides the file count
    val slices = (1 to 8).filter(fids.size % _ == 0).max
    spark.range(fids.start.toLong * rowsPerFile, fids.end.toLong * rowsPerFile, 1, slices)
      .select(
        col("id"),
        (pmod(xxhash64(col("id"), lit(seed)), lit(1000003L)) / 1000003.0).as("v"),
        concat(lit("k"), pmod(xxhash64(col("id"), lit(seed + 1)), lit(5000L)).cast("string")).as("s"),
        (col("id") / rowsPerFile).cast("int").as("fid"))
      .write.partitionBy("fid").parquet(gen.toString)
    fids.foreach { fid =>
      val part = partOf(fid)
      val src = Files.list(gen.resolve(s"fid=$fid")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList match {
          case one :: Nil => one
          case other      => throw new IllegalStateException(s"file $fid written as $other")
        }
      val rel = f"part=$part/f-$fid%06d.parquet"
      val dst = dir.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      files(fid) = (part, rel, Files.size(dst))
    }
    deleteTree(gen)
  }

  /** Commits the protocol and table metadata as version 0. */
  def create(): Unit =
    commit(Seq(
      json(_.putObject("protocol").put("minReaderVersion", 1).put("minWriterVersion", 2)),
      json { n =>
        val m = n.putObject("metaData")
        m.put("id", s"perfbench-$seed").put("name", "source")
        m.putObject("format").put("provider", "parquet").putObject("options")
        m.put("schemaString", Schema.json)
        m.putArray("partitionColumns").add("part")
        m.putObject("configuration")
        m.put("createdTime", BaseMs)
      }), Nil, Nil)

  /** One commit adding and removing files; returns its version. */
  def commit(adds: Seq[Int], removes: Seq[Int]): Long =
    commit(removes.map(action("remove", _)) ++ adds.map(action("add", _)), adds, removes)

  private def commit(lines: Seq[String], adds: Seq[Int], removes: Seq[Int]): Long = {
    require(removes.forall(liveSet.contains), s"remove of a file that is not live: $removes")
    val v   = version + 1
    val log = Files.createDirectories(dir.resolve("_delta_log"))
    val tmp = log.resolve(f".$v%020d.json.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, log.resolve(f"$v%020d.json"), StandardCopyOption.ATOMIC_MOVE)
    version = v
    removes.foreach(liveSet.remove)
    liveSet ++= adds
    v
  }

  private def action(kind: String, fid: Int): String = json { n =>
    val (part, rel, size) = files(fid)
    val a = n.putObject(kind)
    a.put("path", rel)
    a.putObject("partitionValues").put("part", part)
    a.put("size", size)
    a.put("dataChange", true)
    if (kind == "add") {
      a.put("modificationTime", BaseMs + fid)
      a.put("stats", s"""{"numRecords":$rowsPerFile}""")
    } else a.put("deletionTimestamp", BaseMs + version + 1)
  }

  /** The same source in `to`, which holds a copy of this one's files. */
  def copyTo(to: Path): DeltaSource = {
    val c = new DeltaSource(spark, to, rowsPerFile, seed)
    c.files ++= files
    c.liveSet ++= liveSet
    c.version = version
    c
  }

  def live: Seq[Int] = liveSet.toSeq
  def commits: Long = version + 1

  /** Row count and content digest of the live source rows. */
  def digest(): (Long, java.math.BigDecimal) = {
    val rel = regexp_extract(input_file_name(), "(part=p[0-9]+/f-[0-9]+[.]parquet)$", 1)
    DeltaSource.digest(spark.read.schema(Schema).parquet(dir.toString)
      .where(rel.isin(live.map(files(_)._2): _*)))
  }
}

object DeltaSource {
  private val M      = new ObjectMapper()
  private val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z: fixed, so inputs repeat per seed

  val Physical: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType), StructField("s", StringType)))
  val Schema: StructType = Physical.add(StructField("part", StringType))

  private def json(f: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
    val n = M.createObjectNode(); f(n); n.toString
  }

  /** Order-independent digest of (id, v, s, part) rows: count, and the exact
    * decimal sum of a 64-bit row hash.
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(Schema.fieldNames.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)), sum(xxhash64(Schema.fieldNames.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }
}
