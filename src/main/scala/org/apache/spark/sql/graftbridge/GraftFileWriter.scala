package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, Decimal}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Parquet write that reports what it wrote, file by file — the facts a
  * transaction log records for each add, gathered while the rows stream
  * through the writer (Delta's `DeltaJobStatisticsTracker`), so nothing
  * re-reads or re-lists the output to learn them.
  */
object GraftFileWriter {

  /** One output file: its path, size and row count, the sorted distinct
    * non-null values of the `distinct` column, and the (min, max) of each
    * bounded column holding a non-null value — Strings in UTF8_BINARY order,
    * or Doubles (the value cast to double) in `java.lang.Double.compare`
    * order, NaN above +Infinity: what Spark's `min`/`max` return.
    */
  final case class WrittenFile(
      path: Path, size: Long, rows: Long, distinct: Seq[String], bounds: Map[String, (Any, Any)])

  /** Write `df` as parquet files directly under `dir`, which must not exist,
    * in one Spark job; returns every file written. `distinct` names a string
    * column, `bounded` numeric or string columns.
    */
  def parquet(df: DataFrame, dir: Path, distinct: String, bounded: Seq[String]): Seq[WrittenFile] = {
    val ds      = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession.asInstanceOf[ClassicSession]
    val qe      = ds.queryExecution
    val conf    = session.sessionState.newHadoopConf()
    val tracker = new Tracker(new SerializableConfiguration(conf), df.schema.fieldIndex(distinct),
      bounded.map(c => (c, df.schema.fieldIndex(c), df.schema(c).dataType)))
    val committer = FileCommitProtocol.instantiate(session.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir.toString)
    SQLExecution.withNewExecutionId(qe, Some(s"graft write $dir")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir.toString, Map.empty, qe.executedPlan.output), conf,
        partitionColumns = Nil, bucketSpec = None, statsTrackers = Seq(tracker), options = Map.empty)
    }
    tracker.written.map(f => f.copy(path = new Path(dir, f.path.getName))).sortBy(_.path.getName)
  }

  private final case class TaskFiles(files: Seq[WrittenFile]) extends WriteTaskStats

  /** Hands each task a [[FileTask]]; on the driver, keeps what they report. */
  private final class Tracker(
      conf: SerializableConfiguration,
      distinct: Int,
      bounded: Seq[(String, Int, DataType)]) extends WriteJobStatsTracker {
    @transient var written: Seq[WrittenFile] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker = new FileTask

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      written = stats.flatMap { case TaskFiles(fs) => fs }

    /** One accumulator per file the task writes, keyed by its attempt path. */
    private final class FileTask extends WriteTaskStatsTracker {
      private final class Acc {
        var size, rows = 0L
        val values     = mutable.HashSet[UTF8String]()
        val lo, hi     = new Array[Any](bounded.size)
      }
      private val files = mutable.LinkedHashMap[String, Acc]()

      private def below(a: Any, b: Any): Boolean = (a, b) match {
        case (x: UTF8String, y: UTF8String) => x.binaryCompare(y) < 0
        case (x: Double, y: Double)         => java.lang.Double.compare(x, y) < 0
      }

      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit = files(path) = new Acc

      override def newRow(path: String, row: InternalRow): Unit = {
        val acc = files(path)
        acc.rows += 1
        if (!row.isNullAt(distinct) && !acc.values.contains(row.getUTF8String(distinct)))
          acc.values += row.getUTF8String(distinct).clone()
        for (k <- bounded.indices) {
          val (_, i, t) = bounded(k)
          if (!row.isNullAt(i)) {
            val v = row.get(i, t) match {
              case s: UTF8String => s
              case d: Decimal    => d.toDouble
              case n: Number     => n.doubleValue
            }
            if (acc.lo(k) == null || below(v, acc.lo(k))) acc.lo(k) = copy(v)
            if (acc.hi(k) == null || below(acc.hi(k), v)) acc.hi(k) = copy(v)
          }
        }
      }

      // a kept string is cloned: the row's buffer is reused for the next row
      private def copy(v: Any): Any = v match { case s: UTF8String => s.clone(); case d => d }

      override def closeFile(path: String): Unit =
        files(path).size = new Path(path).getFileSystem(conf.value).getFileStatus(new Path(path)).getLen

      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        TaskFiles(files.toSeq.map { case (path, acc) =>
          def plain(v: Any): Any = v match { case s: UTF8String => s.toString; case d => d }
          WrittenFile(new Path(path), acc.size, acc.rows, acc.values.toSeq.map(_.toString).sorted,
            bounded.indices.collect { case k if acc.lo(k) != null =>
              bounded(k)._1 -> ((plain(acc.lo(k)), plain(acc.hi(k))))
            }.toMap)
        })
    }
  }
}
