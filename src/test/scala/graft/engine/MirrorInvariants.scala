package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.scalatest.Assertions._

import graft.deltalog.DeltaLogReader
import graft.sink.MirrorTable
import graft.types.KustoTypes

/** Checks that hold between a Delta source and its mirror whatever happened
  * on the way: the mirror holds exactly the live source rows, no source blob
  * was ingested twice, and each live mirror file's recorded row count and
  * lineage tag describe the rows it holds.
  */
object MirrorInvariants {
  private val M = new ObjectMapper()

  /** Row count and the exact decimal sum of a 64-bit hash of `cols` — the
    * order-independent digest perfbench's `DeltaSource.digest` computes.
    */
  def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The live rows of the Delta table at `dir`: each live add read on its
    * own, its partition values as typed constants, in schema column order.
    */
  def sourceRows(spark: SparkSession, dir: String, name: String): DataFrame = {
    val log    = new DeltaLogReader(spark, dir, name).fullSnapshot().get
    val meta   = log.metadata.get
    val schema = KustoTypes.structFrom(meta.schema.getOrElse(Nil))
    val pcols  = meta.partitionColumns.getOrElse(Nil)
    val physical = org.apache.spark.sql.types.StructType(schema.filterNot(f => pcols.contains(f.name)))
    log.adds.map { a =>
      val read = spark.read.schema(physical).parquet(new Path(dir, a.blobPath.get).toString)
      val withParts = pcols.foldLeft(read) { (df, c) =>
        df.withColumn(c, lit(a.partitionValues.getOrElse(Map.empty).get(c).orNull).cast(schema(c).dataType))
      }
      withParts.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }.reduceOption(_ union _)
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
  }

  /** All three invariants for the mirror of the Delta table at `srcDir`. */
  def check(spark: SparkSession, srcDir: String, cfg: MirrorConfig): Unit = {
    val mirror = new MirrorTable(spark, cfg.mirrorDir, cfg.mirrorTableName)
    val source = sourceRows(spark, srcDir, cfg.mirrorTableName)
    assert(digest(mirror.snapshot(), source.columns.toSeq) == digest(source, source.columns.toSeq),
      "mirror (rows, digest) differs from the live source")
    val reingested = mirror.snapshot().groupBy(KustoTypes.BlobPathColumn)
      .agg(countDistinct(KustoTypes.IngestTsColumn).as("n")).where(col("n") > 1).collect()
    assert(reingested.isEmpty, s"source blobs ingested more than once: ${reingested.mkString(", ")}")
    checkFiles(spark, cfg.mirrorDir, cfg.mirrorTableName)
  }

  /** Each live mirror file is listed once (a republish of published adds
    * lists it twice), its `numRecords` equals its row count, and its lineage
    * tag equals the distinct non-null `MLK_BlobPath` of its rows.
    */
  def checkFiles(spark: SparkSession, mirrorDir: String, name: String): Unit = {
    val log    = new DeltaLogReader(spark, mirrorDir, name).fullSnapshot().get
    val schema = KustoTypes.structFrom(log.metadata.get.schema.getOrElse(Nil))
    val twice  = log.adds.flatMap(_.blobPath).groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
    assert(twice.isEmpty, s"live files listed more than once: ${twice.mkString(", ")}")
    log.adds.foreach { a =>
      val rows = GraftManifestScan.parquet(spark, schema,
        Seq(GraftManifestScan.status(new Path(mirrorDir, a.blobPath.get), a.size.get)))
        .select(KustoTypes.BlobPathColumn).collect().map(r => Option(r.getString(0)))
      val tag = a.tags.getOrElse(Map.empty)(MirrorTable.SourceBlobsTag)
      assert(a.recordCount.contains(rows.length.toLong), s"${a.blobPath.get}: numRecords ${a.recordCount}")
      assert(M.readValue(tag, classOf[Array[String]]).toSet == rows.flatten.toSet,
        s"${a.blobPath.get}: lineage tag $tag, rows hold ${rows.flatten.distinct.mkString(", ")}")
    }
  }
}
