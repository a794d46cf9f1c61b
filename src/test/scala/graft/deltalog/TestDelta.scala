package graft.deltalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Test fixture: builds real Delta-format tables (the reference's
  * Simple/Electric PySpark scripts, reproduced with our own writer).
  */
class TestDelta(spark: SparkSession, val dir: String, name: String = "src") {
  val writer = new DeltaLogWriter(spark, dir)
  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def init(schema: StructType, partitionColumns: Seq[String] = Nil): Long =
    writer.commit(Seq(writer.metaDataAction(
      java.util.UUID.randomUUID().toString, name, schema, partitionColumns)))

  /** Write `df` as ONE parquet data file (under the partition dir if pv is
    * set) and commit its add action. Returns the add's relative path.
    */
  def writeFile(df: DataFrame, pv: Map[String, String] = Map.empty): (String, Long) = {
    val n   = df.count()
    val tmp = new Path(root, s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val sub = pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")
    val rel = (if (sub.isEmpty) "" else sub + "/") +
      s"part-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val target = new Path(root, rel)
    fs.mkdirs(target.getParent)
    fs.rename(part, target)
    fs.delete(tmp, true)
    (rel, n)
  }

  def addCommit(df: DataFrame, pv: Map[String, String] = Map.empty): String = {
    val (rel, n) = writeFile(df, pv)
    writer.commit(Seq(writer.addAction(rel, fs.getFileStatus(new Path(root, rel)).getLen, pv, Some(n))))
    rel
  }

  /** ONE commit adding many files (e.g. one per partition tuple) — the shape
    * of a large append batch.
    */
  def addCommitMulti(files: Seq[(DataFrame, Map[String, String])]): Seq[String] = {
    val written = files.map { case (df, pv) => (writeFile(df, pv), pv) }
    writer.commit(written.map { case ((rel, n), pv) =>
      writer.addAction(rel, fs.getFileStatus(new Path(root, rel)).getLen, pv, Some(n))
    })
    written.map(_._1._1)
  }

  def removeCommit(path: String, pv: Option[Map[String, String]] = None): Long =
    writer.commit(Seq(writer.removeAction(path, pv)))

  /** Delta-style delete: one commit removing `oldPath` and adding the
    * rewritten rows (like Spark's DELETE rewriting a file).
    */
  def replaceCommit(oldPath: String, df: DataFrame, pv: Map[String, String] = Map.empty): String = {
    val (rel, n) = writeFile(df, pv)
    writer.commit(Seq(
      writer.removeAction(oldPath, if (pv.isEmpty) None else Some(pv)),
      writer.addAction(rel, fs.getFileStatus(new Path(root, rel)).getLen, pv, Some(n))))
    rel
  }

  /** Checkpoint the latest commit, from the latest checkpoint plus its
    * trailing commits.
    */
  def checkpoint(numParts: Int = 1): Long = {
    val reader  = new DeltaLogReader(spark, dir, name)
    val version = reader.listCommits().last._1
    writer.writeCheckpoint(reader.snapshotAsOf(version).get, version, numParts)
  }
}
