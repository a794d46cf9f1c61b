package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.deltalog.DeltaLogWriter
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.kql.KqlPipeline
import graft.state.CheckpointStore
import graft.util.Sessions

/** Runnable demo of the KQL tabular surface — the reference's outward query
  * language — against a LIVE mirror: builds a small Delta source, mirrors
  * it, then answers the reference's own test-query shapes (`<table> |
  * count`, `… | where … | count` — LoadTest.cs:22-27,74-89) plus the
  * MLK_DeltaStatus pipeline (DatabaseGateway.cs:85-96 shape) in KQL over
  * the mirror snapshot and the checkpoint store's status view.
  * `runMain graft.KqlDemo [workDir]`.
  */
object KqlDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-kql-demo").toFile.getAbsolutePath)
    val spark = Sessions.start("local[4]")

    // a two-commit Delta source, mirrored the normal way
    val srcDir = s"$work/source-delta"
    val w      = new DeltaLogWriter(spark, srcDir)
    w.commit(Seq(w.metaDataAction("demo-id", "demo",
      StructType(Seq(StructField("id", LongType))), Nil)))
    def addFile(from: Long, until: Long): Unit = {
      val rel  = s"part-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val path = new org.apache.hadoop.fs.Path(srcDir, rel)
      val tmp  = s"$work/.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.range(from, until).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs   = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, path)
      w.commit(Seq(w.addAction(rel, fs.getFileStatus(path).getLen, Map.empty, Some(until - from))))
    }
    addFile(0, 60)
    addFile(60, 100)

    val cfg = MirrorConfig(srcDir, s"$work/mirror", "demo", s"$work/ckpt")
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    // the KQL resolver: mirror snapshot + the engine's own status view —
    // exactly the two surfaces the reference exposes to KQL users
    val store = new CheckpointStore(spark, s"$work/ckpt")
    val tables: Map[String, DataFrame] = Map(
      "demo"            -> orch.table.snapshot(),
      "MLK_DeltaStatus" -> store.statusView())

    def show(kql: String): Unit = {
      println(s"\nKQL> ${kql.trim.replaceAll("\\s+\\|", "\n   |")}")
      KqlPipeline.run(tables, kql).show(10, truncate = false)
    }

    show("demo | count")
    show("demo | where id >= 90 | count")
    show("demo | where id >= 10 and id <= 19 or id == 0 | summarize n = count(), mx = max(id)")
    show("""demo
           | | extend bucket = case(id < 50, 'low', 'high')
           | | summarize n = count() by bucket
           | | order by bucket asc""".stripMargin)
    show("""demo | make-series n = count() on id from 0 to 100 step 25""")
    show("""MLK_DeltaStatus
           | | summarize n = count() by Action, State
           | | order by Action asc, State asc""".stripMargin)

    // the reference's OWN status-view query text (DatabaseGateway.cs:85-96):
    // externaldata over the checkpoint CSV + arg_max(MirrorTimestamp, *) —
    // running unchanged against the live checkpoint store's index.csv.
    // Compact first: the externaldata path names the BASE file, so fold any
    // trailing append segments into it (what a poll does on load anyway)
    store.compact()
    show(s"""externaldata (KustoTableName:string, StartTxId:long, EndTxId:long,
            |    Action:string, State:string, MirrorTimestamp:datetime,
            |    DeltaTimestamp:string, BlobPath:string, PartitionValues:string,
            |    Size:long, RecordCount:long, PartitionColumns:string,
            |    Schema:string, InternalState:string)
            |  ['$work/ckpt/index.csv'] with (format='csv', ignoreFirstRecord=true)
            | | summarize arg_max(MirrorTimestamp, *)
            |   by KustoTableName, StartTxId, Action, BlobPath
            | | order by KustoTableName asc, StartTxId asc, Action asc, BlobPath asc
            | | project KustoTableName, StartTxId, Action, State""".stripMargin)

    spark.stop()
  }
}
