package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.deltalog.DeltaLogWriter
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.util.Sessions

/** Runnable end-to-end demo of the mirror pipeline: builds a partitioned
  * Delta table with this library's own log writer, mirrors it, applies a
  * row-level delete upstream, re-mirrors, and prints the observable state
  * after each step. `runMain graft.MirrorDemo [workDir]`.
  */
object MirrorDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-demo").toFile.getAbsolutePath)
    val spark = Sessions.start("local[4]")

    val srcDir = s"$work/source-delta"
    val w      = new DeltaLogWriter(spark, srcDir)
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    w.commit(Seq(w.metaDataAction("demo-id", "demo", schema, Seq("year"))))

    def addFile(from: Long, until: Long, year: String): String = {
      val rel  = s"year=$year/part-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val path = new org.apache.hadoop.fs.Path(srcDir, rel)
      val tmp  = s"$work/.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.range(from, until).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(path.getParent)
      fs.rename(part, path)
      w.commit(Seq(w.addAction(rel, fs.getFileStatus(path).getLen,
        Map("year" -> year), Some(until - from))))
      rel
    }

    val f94 = addFile(0, 500, "1994")
    addFile(500, 1000, "2024")

    val cfg = MirrorConfig(
      deltaTableUrl = srcDir,
      mirrorDir = s"$work/mirror",
      mirrorTableName = "demo",
      checkpointDir = s"$work/state",
      // the reference CLI's default KQL creation-time expression (§2.i)
      creationTimeExpr = Some("todatetime(strcat(p0,'-01-01'))"))
    val orch = new MirrorOrchestrator(spark, cfg)

    println(s"[demo] work dir: $work")
    orch.runOnce()
    val snap1 = orch.table.snapshot()
    println(s"[demo] after initial mirror: rows=${snap1.count()} " +
      s"by-year=${snap1.groupBy("year").count().collect().sortBy(_.getInt(0)).mkString(",")}")

    // upstream DELETE of year=1994 rows with id < 100 (file rewrite commit)
    val rewritten = s"year=1994/part-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val tmp = s"$work/.tmp-rw"
    spark.range(100, 500).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(srcDir, rewritten))
    w.commit(Seq(
      w.removeAction(f94, Some(Map("year" -> "1994"))),
      w.addAction(rewritten,
        fs.getFileStatus(new org.apache.hadoop.fs.Path(srcDir, rewritten)).getLen,
        Map("year" -> "1994"), Some(400))))

    orch.runOnce()
    val snap2 = orch.table.snapshot()
    println(s"[demo] after upstream delete of id<100: rows=${snap2.count()} " +
      s"min-id=${snap2.agg(org.apache.spark.sql.functions.min("id")).head().getLong(0)}")
    println(s"[demo] mirror live files: ${orch.table.liveAdds().size}")

    // compact per partition group with range clustering on id — rewrites
    // keep partition values and carry min/max stats for data skipping
    orch.table.optimize(targetFileBytes = 512L * 1024 * 1024,
      clusterBy = Seq("id"), statsColumns = Seq("id"))
    println(s"[demo] after sink OPTIMIZE: rows=${orch.table.snapshot().count()} " +
      s"live-files=${orch.table.liveAdds().size}")
    val ranged = graft.kql.KqlPipeline.run(Map("T" -> orch.table.snapshot()), "T | where id between (0 .. 50)")
    ranged.collect()
    println(s"[demo] T | where id between (0 .. 50): files read=" +
      s"${org.apache.spark.sql.graftbridge.GraftManifestScan.filesRead(ranged)} of ${orch.table.liveAdds().size}")

    // time travel: the table as of its first data-bearing commit (ONE
    // commit-replay pass to locate it, not a fold per version)
    val rdr = new graft.deltalog.DeltaLogReader(spark, cfg.mirrorDir, cfg.mirrorTableName)
    val firstData = rdr.readCommits(rdr.listCommits())
      .find(_.adds.nonEmpty).map(_.startTxId)
    firstData.foreach { v =>
      println(s"[demo] time travel to commit $v: rows=${orch.table.snapshotAt(v).count()}")
    }

    // CDC feed (BEFORE vacuum — the feed reaches only as far as retention):
    // rows appended since the first data commit, version-tagged
    firstData.foreach { v =>
      val feed = orch.table.changesBetween(v - 1, orch.table.currentVersion())
      println(s"[demo] CDC feed from commit $v: ${feed.count()} appended rows, " +
        s"history churn files=${orch.table.removedBetween(v - 1, orch.table.currentVersion()).size}")
    }

    // reclaim tombstoned bytes (delete + OPTIMIZE leftovers)
    Thread.sleep(5)
    println(s"[demo] VACUUM reclaimed ${orch.table.vacuum(retainMs = 0L)} files")

    // the reference's MLK_DeltaStatus view, Spark-native
    val status = new graft.state.CheckpointStore(spark, cfg.checkpointDir).statusView()
    println(s"[demo] status view: ${status.count()} state rows")

    // multi-table: a second Delta table drains CONCURRENTLY with the first
    // through ONE shared checkpoint store (per-database orchestration)
    val src2 = s"$work/source-delta-2"
    val w2   = new DeltaLogWriter(spark, src2)
    val schema2 = StructType(Seq(StructField("id", LongType)))
    w2.commit(Seq(w2.metaDataAction("demo2-id", "demo2", schema2, Nil)))
    val rel2 = s"part-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    spark.range(9000, 9100).toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$work/.tmp2")
    val part2 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/.tmp2")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part2, new org.apache.hadoop.fs.Path(src2, rel2))
    w2.commit(Seq(w2.addAction(rel2,
      fs.getFileStatus(new org.apache.hadoop.fs.Path(src2, rel2)).getLen, Map.empty, Some(100))))

    val multi = new graft.engine.MirrorOrchestration(spark, Seq(
      cfg,
      MirrorConfig(src2, s"$work/mirror2", "demo2", cfg.checkpointDir)))
    multi.runOnce()
    println(s"[demo] multi-table drain: demo=${multi.table("demo").snapshot().count()} " +
      s"demo2=${multi.table("demo2").snapshot().count()} rows through one index.csv")

    // streaming ingestion into a mirror (foreachBatch staged-publish)
    val streamMirror = new graft.sink.MirrorTable(spark, s"$work/mirror-stream", "demo_stream")
    streamMirror.ensureSchema(schema2, Nil)
    val q = graft.streaming.StreamMirror.start(
      spark.readStream.schema(schema2).parquet(src2.stripSuffix("/")),
      streamMirror, s"$work/stream-ckpt")
    q.awaitTermination()
    println(s"[demo] streaming mirror drained: rows=${streamMirror.snapshot().count()}")
    spark.stop()
  }
}
