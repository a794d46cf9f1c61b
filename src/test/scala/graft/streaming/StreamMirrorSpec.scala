package graft.streaming

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sink.MirrorTable
import graft.types.KustoTypes

class StreamMirrorSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("id", LongType)))

  test("stream → mirror: exactly-once publish per micro-batch, CDC readable") {
    val srcDir  = tmpDir("stream-src")
    val mirror  = new MirrorTable(spark, tmpDir("stream-mirror"), "sm")
    mirror.ensureSchema(schema, Nil)

    val ckpt = tmpDir("stream-ckpt") // ONE checkpoint across restarts — the
                                     // foreachBatch exactly-once contract
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    val events = spark.readStream.schema(schema).parquet(srcDir)

    val q1 = StreamMirror.start(events, mirror, ckpt)
    q1.awaitTermination()
    val v1 = mirror.currentVersion()
    assert(mirror.snapshot().count() == 5)
    // lineage columns decorated like any mirrored blob
    val row = mirror.snapshot().collect().head
    assert(row.getAs[String](KustoTypes.BlobPathColumn).endsWith(".parquet"))
    assert(row.getAs[java.sql.Timestamp](KustoTypes.IngestTsColumn) != null)

    // drain again with nothing new: no data commit, no duplicates
    val q2 = StreamMirror.start(
      spark.readStream.schema(schema).parquet(srcDir), mirror, ckpt)
    q2.awaitTermination()
    assert(mirror.snapshot().count() == 5)

    // incremental file → incremental batch → CDC feed shows exactly the delta
    spark.range(5, 9).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    val q3 = StreamMirror.start(
      spark.readStream.schema(schema).parquet(srcDir), mirror, ckpt)
    q3.awaitTermination()
    val v2 = mirror.currentVersion()
    assert(mirror.snapshot().count() == 9)

    val changes = mirror.changesBetween(v1, v2)
    assert(changes.columns.contains(KustoTypes.CommitVersionColumn))
    assert(changes.select("id").collect().map(_.getLong(0)).sorted.toSeq == (5L until 9L))
    assert(changes.select(KustoTypes.CommitVersionColumn).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(v2))
    assert(mirror.removedBetween(v1, v2).isEmpty)

    // full-range CDC covers everything ever appended
    assert(mirror.changesBetween(-1L, v2).count() == 9)

    // checkpoint LOST (deleted, same path) → the replay restarts at batch 0
    // while the mirror has already published batch 1 with this checkpoint:
    // silent skipping would drop rows that arrived after the loss (id 9
    // below), so the stream must REFUSE loudly with the recovery options
    spark.range(9, 10).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val q4 = StreamMirror.start(
      spark.readStream.schema(schema).parquet(srcDir), mirror, ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("batchId regression"))), e.getMessage)
    // nothing was skipped-and-published behind the refusal: the mirror still
    // holds exactly the pre-loss rows, no duplicates, no partial batch
    assert(mirror.snapshot().count() == 9)
  }

  test("changesBetween edge cases: empty range, bad range, vacuumed history") {
    val mirror = new MirrorTable(spark, tmpDir("cdc-mirror"), "cdc")
    mirror.ensureSchema(schema, Nil)
    val v = mirror.currentVersion()
    assert(mirror.changesBetween(v, v).count() == 0) // empty range, typed empty frame
    intercept[IllegalArgumentException](mirror.changesBetween(v + 1, v))

    // vacuumed history: a CDC range reaching reclaimed files fails with the
    // contract error, not a raw PATH_NOT_FOUND from the scan
    mirror.stage("s0", "g-default", spark.range(0, 4).toDF("id")
      .withColumn(KustoTypes.BlobPathColumn, org.apache.spark.sql.functions.lit("b0"))
      .withColumn(KustoTypes.IngestTsColumn,
        org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L))))
    val v1 = mirror.publishStaged("s0", Seq("g-default"))
    mirror.deleteByLineage(Seq(("b0", None))) // tombstones the s0 file
    Thread.sleep(20)
    assert(mirror.vacuum(0L) >= 1)
    val e = intercept[IllegalStateException](mirror.changesBetween(v1 - 1, v1))
    assert(e.getMessage.contains("reclaimed by VACUUM"), e.getMessage)
  }

  test("changesBetween: a path re-added at two versions yields rows once, latest version") {
    val dir    = tmpDir("cdc-readd")
    val mirror = new MirrorTable(spark, dir, "readd")
    mirror.ensureSchema(schema, Nil)
    mirror.stage("s0", "g-default", spark.range(0, 4).toDF("id").coalesce(1)
      .withColumn(KustoTypes.BlobPathColumn, org.apache.spark.sql.functions.lit("b0"))
      .withColumn(KustoTypes.IngestTsColumn,
        org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L))))
    mirror.publishStaged("s0", Seq("g-default"))
    val live = mirror.liveAdds() match {
      case Seq(only) => only
      case many      => fail(s"test needs exactly one published file, got ${many.size}")
    }

    // re-add the SAME file path in a later commit (restore-like history):
    // the manifest scan reads the file once, so the version join must not
    // fan each row out to both introducing versions (round-14 advice)
    val w = new graft.deltalog.DeltaLogWriter(spark, dir)
    w.commit(Seq(w.addAction(live.path, live.size, live.partitionValues, Some(4L))))
    val v2 = mirror.currentVersion()

    val ch = mirror.changesBetween(-1L, v2)
    assert(ch.count() == 4, "re-added path fanned rows out per version")
    assert(ch.select(KustoTypes.CommitVersionColumn).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(v2), "rows must carry the LATEST re-add version")
  }
}
