package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSuite

/** GraftManifestScan contract pins (r14 review): duplicate manifest paths
  * must read ONCE (matching the InMemoryFileIndex it replaces, which keys
  * leaf files by path), and the recorded length is trusted verbatim.
  */
class ManifestScanSpec extends SparkSuite {

  test("duplicate manifest entries for one path are read once, not twice") {
    val dir = tmpDir("manifest-dup")
    spark.range(2).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(new Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val len = fs.getFileStatus(file).getLen

    val st = org.apache.spark.sql.graftbridge.GraftManifestScan.status(file, len)
    val df = org.apache.spark.sql.graftbridge.GraftManifestScan.parquet(
      spark, spark.read.parquet(dir).schema, Seq(st, st, st))
    assert(df.count() == 2L,
      "a path listed three times in the manifest must still be scanned once")
    // contrast pin: Spark's listed read DUPLICATES repeated explicit paths
    // (each arg becomes its own scan entry) — the manifest dedup is an
    // engine-semantics guarantee (one physical blob ingests once), stronger
    // than spark.read parity
    assert(spark.read.parquet(file.toString, file.toString).count() == 4L)
  }

  test("manifest scan equals the listed read on a multi-file set") {
    val dir = tmpDir("manifest-eq")
    spark.range(100).toDF("id").repartition(4).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    val stats = files.map(p =>
      org.apache.spark.sql.graftbridge.GraftManifestScan.status(
        p, fs.getFileStatus(p).getLen))
    val viaManifest = org.apache.spark.sql.graftbridge.GraftManifestScan
      .parquet(spark, spark.read.parquet(dir).schema, stats)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaManifest == (0L until 100L))
  }

  test("an entry with no recorded length reads the listed rows, with no Spark job at plan time") {
    val dir = tmpDir("manifest-nolen")
    spark.range(100).toDF("id").repartition(3).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    val schema = spark.read.parquet(dir).schema
    val (df, jobs) = jobsDuring {
      val d = GraftManifestScan.parquet(spark, schema, files.map(GraftManifestScan.status(_, 0L)))
      d.queryExecution.executedPlan
      d
    }
    assert(jobs == 0, s"$jobs Spark job(s) while planning")
    def ids(d: org.apache.spark.sql.DataFrame) = d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(df) == ids(spark.read.parquet(files.map(_.toString): _*)))
    assert(ids(df) == (0L until 100L))
  }

  test("per-file constant columns carry each file's value, and a filter on them alone selects files") {
    val dir = tmpDir("manifest-const")
    spark.range(30).toDF("id").repartition(3).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getPath.getName)
    val names = files.map(f => s"file ${f.getPath.getName}")
    val df = GraftManifestScan.parquet(spark, spark.read.parquet(dir).schema,
      files.map(f => GraftManifestScan.status(f.getPath, f.getLen)),
      constantSchema = StructType(Seq(StructField("src", StringType))), constants = names.map(Seq(_)))
    val perFile = files.zip(names).map { case (f, n) =>
      n -> spark.read.parquet(f.getPath.toString).collect().map(_.getLong(0)).sorted.toSeq
    }.toMap
    val all = df.select("src", "id").collect().groupBy(_.getString(0)).map { case (n, rs) =>
      n -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(all == perFile.filter(_._2.nonEmpty))
    // Spark does not re-check a filter on constants alone after the scan
    val one = df.where(col("src") === names(1)).select("id")
    assert(one.collect().map(_.getLong(0)).sorted.toSeq == perFile(names(1)))
    assert(GraftManifestScan.filesRead(one) == 1L)
    assert(df.where(col("src").isNull).count() == 0L)
  }
}
