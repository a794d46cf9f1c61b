package graft.sink

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSuite
import graft.types.KustoTypes

/** Sink metadata-plane cost contract: a fresh table handle rebuilds its live
  * state — INCLUDING per-file tags (lineage + stats) — from the latest sink
  * checkpoint plus trailing commits only, never by re-parsing the whole
  * commit log. The O(n²)-over-lifetime tag rebuild was the one 100×-scale
  * flaw left in the sink plane.
  */
class SinkCheckpointSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("id", LongType)))
  private val ts     = new Timestamp(1700000000000L)

  private def publishN(t: MirrorTable, n: Int): Unit = (1 to n).foreach(publishOne(t, _))

  // publishes rotate over three txn application ids, so the txn map has
  // several entries, each advanced at a different commit
  private val AppIds = Seq("app-0", "app-1", "app-2")

  /** The txn version each application last published by commit `i`. */
  private def expectedTxns(i: Int): Seq[Option[Long]] =
    AppIds.indices.map(k => (1 to i).filter(_ % 3 == k).lastOption.map(_.toLong))

  /** Publish batch `i` (5 rows of source blob `blob-i`) as commit `i`. */
  private def publishOne(t: MirrorTable, i: Int): Unit = {
    t.stage(s"b$i", "g0",
      spark.range(i * 10L, i * 10L + 5).toDF("id")
        .withColumn(KustoTypes.BlobPathColumn, lit(s"blob-$i"))
        .withColumn(KustoTypes.IngestTsColumn, lit(ts))
        .repartition(1))
    assert(t.publishStaged(s"b$i", Seq("g0"), AppIds(i % 3), i) == i.toLong)
  }

  test("tag rebuild opens only the latest checkpoint + trailing commits; delete stays exact") {
    val dir = tmpDir("sink-ckpt")
    val t1  = new MirrorTable(spark, dir, "t")
    t1.ensureSchema(schema, Nil) // commit 0
    publishN(t1, 25)             // commits 1..25; auto-checkpoints at v10, v20

    // cold rebuild on a FRESH handle: memos empty, counters at zero
    val t2   = new MirrorTable(spark, dir, "t")
    val live = t2.liveAdds()
    assert(live.size == 25)
    // every file's lineage tag survived the checkpoint round-trip
    assert(live.forall(_.tags.contains(MirrorTable.SourceBlobsTag)))
    // the metadata cost: ONE checkpoint load + the 5 trailing commits
    // (21..25) — not the 26 commit files on disk
    assert(t2.logReader.checkpointsLoaded.get == 1L,
      s"expected 1 checkpoint load, got ${t2.logReader.checkpointsLoaded.get}")
    assert(t2.logReader.commitFilesRead.get == 5L,
      s"expected 5 trailing commit reads, got ${t2.logReader.commitFilesRead.get}")
    // the txn watermarks survived the checkpoint round-trip too
    assert(AppIds.map(t2.txnVersion) == expectedTxns(25))

    // delete by a lineage published BEFORE the checkpoint: exactness needs
    // the checkpoint-carried tags — without them every file is conservatively
    // rewritten; with them only blob-3's file is touched
    val untouched = live.filter { a =>
      !a.tags(MirrorTable.SourceBlobsTag).contains("\"blob-3\"")
    }.map(_.path).toSet
    assert(untouched.size == 24)
    val before = t2.snapshot().count()
    assert(t2.deleteByLineage(Seq(("blob-3", None))) == 26L)
    assert(t2.snapshot().count() == before - 5)
    val after = t2.liveAdds().map(_.path).toSet
    assert(untouched.subsetOf(after), "a file not holding the doomed lineage was rewritten")
  }

  test("pre-upgrade checkpoints (no tags) stay safe: conservative rewrite, exact rows") {
    // simulate an old checkpoint by wiping tags from the checkpoint parquet:
    // publish past a checkpoint, then null the tags column in place
    val dir = tmpDir("sink-ckpt-old")
    val t1  = new MirrorTable(spark, dir, "t")
    t1.ensureSchema(schema, Nil)
    publishN(t1, 12) // checkpoint at v10, trailing 11..12
    val logDir = new java.io.File(s"$dir/_delta_log")
    val ckpt   = logDir.listFiles().filter(_.getName.endsWith(".checkpoint.parquet"))
    assert(ckpt.length == 1)
    val df = spark.read.parquet(ckpt.head.getAbsolutePath)
      .withColumn("add", when(col("add").isNotNull,
        col("add").withField("tags", lit(null).cast("map<string,string>"))))
    val tmp = tmpDir("sink-ckpt-rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    ckpt.head.delete()
    // drop the ChecksumFileSystem sidecar too, or the swapped bytes fail CRC
    new java.io.File(logDir, s".${ckpt.head.getName}.crc").delete()
    java.nio.file.Files.copy(part.toPath, ckpt.head.toPath)

    val t2 = new MirrorTable(spark, dir, "t")
    val live = t2.liveAdds()
    assert(live.size == 12)
    // files folded from the tag-less checkpoint have no lineage recorded …
    assert(live.count(_.tags.isEmpty) == 10)
    // … so a delete still removes exactly the right ROWS (conservative
    // rewrite of the tag-less files, filter applies row-level predicate)
    val before = t2.snapshot().count()
    t2.deleteByLineage(Seq(("blob-2", None)))
    assert(t2.snapshot().count() == before - 5)
    assert(t2.snapshot().filter(col(KustoTypes.BlobPathColumn) === "blob-2").count() == 0)
  }

  test("a long-lived handle advances its snapshot by the new commits only") {
    val dir = tmpDir("sink-incr")
    val t1  = new MirrorTable(spark, dir, "t")
    // after every commit the long-lived handle must equal a fresh handle's
    // rebuild (checkpoint + trailing commits) — same files, in the same
    // order — having parsed each commit file exactly once
    def check(step: String): Unit = {
      val fresh = new MirrorTable(spark, dir, "t")
      assert(t1.liveAdds() == fresh.liveAdds(), s"$step: live files differ")
      assert(t1.currentMeta() == fresh.currentMeta(), s"$step: metadata differs")
      assert(AppIds.map(t1.txnVersion) == AppIds.map(fresh.txnVersion), s"$step: txn map differs")
      val v = t1.currentVersion()
      assert(t1.logReader.commitFilesRead.get == v + 1,
        s"$step: ${t1.logReader.commitFilesRead.get} commit reads for ${v + 1} commits")
      assert(t1.logReader.checkpointsLoaded.get == 0L, s"$step: memo was rebuilt")
    }
    t1.ensureSchema(schema, Nil)
    check("schema")
    (1 to 25).foreach { i =>
      publishOne(t1, i)
      check(s"publish $i")
      assert(AppIds.map(t1.txnVersion) == expectedTxns(i), s"publish $i: txn map")
    }
    val ckpts = new java.io.File(s"$dir/_delta_log").list().filter(_.endsWith(".checkpoint.parquet"))
    assert(ckpts.sorted.toSeq == Seq(10L, 20L).map(v => f"$v%020d.checkpoint.parquet"))
    assert(t1.deleteByLineage(Seq(("blob-3", None))) == 26L)
    check("delete")
    assert(t1.optimize() == 27L)
    check("optimize")
    t1.ensureSchema(schema.add("extra", "string"), Nil)
    assert(t1.currentVersion() == 28L)
    check("schema change")
    assert(t1.snapshot().count() == 24 * 5)
    assert(AppIds.map(t1.txnVersion) == expectedTxns(25), "rewrites moved the txn map")
  }

  test("an additive schema change keeps the table id, also through a sink checkpoint") {
    val dir = tmpDir("sink-id")
    def idInLog(): Option[String] = new graft.deltalog.DeltaLogReader(spark, dir, "t").fullSnapshot()
      .flatMap(_.metadata).flatMap(_.internalState.deltaTableId)
    val t1 = new MirrorTable(spark, dir, "t")
    t1.ensureSchema(schema, Nil) // commit 0
    val id = idInLog()
    assert(id.nonEmpty)
    t1.ensureSchema(schema.add("extra", "string"), Nil) // commit 1
    assert(t1.currentVersion() == 1L)
    assert(idInLog() == id, "an additive schema change minted a new table id")
    (2 to 12).foreach(publishOne(t1, _)) // checkpoint at v10
    val fresh = new MirrorTable(spark, dir, "t")
    assert(fresh.tableId == id.get)
    assert(fresh.logReader.checkpointsLoaded.get == 1L)
  }

  test("a read right after a publish runs no Spark job to resolve the snapshot") {
    val dir = tmpDir("sink-jobs")
    val t   = new MirrorTable(spark, dir, "t")
    t.ensureSchema(schema, Nil)
    publishN(t, 3)
    val (df, jobs) = jobsDuring(t.snapshot())
    assert(jobs == 0, s"snapshot() launched $jobs Spark job(s)")
    assert(df.count() == 15)
  }
}
