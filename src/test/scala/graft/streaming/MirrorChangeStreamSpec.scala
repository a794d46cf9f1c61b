package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sink.MirrorTable
import graft.types.KustoTypes

/** Streaming read of the mirror: offset-tracked CDC micro-batches, the
  * exactly-once mirror→mirror replication round-trip, and loud failure on
  * rewritten or vacuumed history.
  */
class MirrorChangeStreamSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def ingest(m: MirrorTable, name: String, from: Long, until: Long): Long = {
    m.stage(name, "g0", spark.range(from, until).toDF("id")
      .withColumn(KustoTypes.BlobPathColumn, lit(s"blob-$name"))
      .withColumn(KustoTypes.IngestTsColumn, lit(new java.sql.Timestamp(0L)))
      .repartition(1))
    m.publishStaged(name, Seq("g0"), "test", until)
  }

  test("round-trip: stream in via StreamMirror, stream out via MirrorChangeStream — exactly-once") {
    val srcDir = tmpDir("mcs-src")
    val source = new MirrorTable(spark, tmpDir("mcs-mirror"), "src")
    source.ensureSchema(schema, Nil)
    val target = new MirrorTable(spark, tmpDir("mcs-replica"), "dst")
    target.ensureSchema(schema, Nil)

    // stream IN: two micro-batches through StreamMirror
    val ckptIn = tmpDir("mcs-ckpt-in")
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    StreamMirror.start(spark.readStream.schema(schema).parquet(srcDir), source, ckptIn)
      .awaitTermination()
    spark.range(5, 9).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    StreamMirror.start(spark.readStream.schema(schema).parquet(srcDir), source, ckptIn)
      .awaitTermination()
    assert(source.snapshot().count() == 9)

    // stream OUT: replicate both commits, then confirm idempotence
    val stream = new MirrorChangeStream(spark, source, tmpDir("mcs-ckpt-out"))
    val r1 = stream.replicateOnce(target)
    assert(r1.nonEmpty)
    assert(target.snapshot().count() == 9)
    assert(target.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 9L))
    // nothing new → no batch, no target commit
    val vBefore = target.currentVersion()
    assert(stream.replicateOnce(target).isEmpty)
    assert(target.currentVersion() == vBefore)

    // crash between target-publish and offset-persist, THEN new source data:
    // the replay must forward only the not-yet-replicated suffix. Simulated
    // by a FRESH stream over a new checkpoint dir (offset back at -1) — the
    // target's own commit log is the authoritative replication watermark.
    assert(stream.appliedVersion() > -1L)
    ingest(source, "late", 9, 12)
    val stream2 = new MirrorChangeStream(spark, source, tmpDir("mcs-ckpt-out2"))
    assert(stream2.appliedVersion() == -1L)
    stream2.replicateOnce(target)
    assert(target.snapshot().count() == 12, "replay duplicated already-replicated rows")
    assert(target.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L))

    // lineage survived replication: delete by the streamed file's path works
    val streamedBlob = target.snapshot()
      .select(KustoTypes.BlobPathColumn).distinct().collect()
      .map(_.getString(0)).find(_.endsWith(".parquet")).get
    target.deleteByLineage(Seq((streamedBlob, None)))
    assert(target.snapshot().count() < 12)
  }

  private def ids(m: MirrorTable): Seq[Long] =
    m.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("rewriting every replicated file (OPTIMIZE, then a delete) keeps the replication watermark") {
    val source = new MirrorTable(spark, tmpDir("erode-src"), "src")
    source.ensureSchema(schema, Nil)
    val target = new MirrorTable(spark, tmpDir("erode-dst"), "dst")
    target.ensureSchema(schema, Nil)
    ingest(source, "a", 0, 5)
    new MirrorChangeStream(spark, source, tmpDir("erode-ckpt1")).replicateOnce(target)
    ingest(source, "b", 5, 9)
    new MirrorChangeStream(spark, source, tmpDir("erode-ckpt1")).replicateOnce(target)
    assert(target.optimize() > 0)
    target.deleteByLineage(Seq(("blob-a", None)))
    assert(target.liveAdds().forall(_.path.startsWith("data/delete-")), "a cdc file is still live")

    // a fresh consumer (offset -1) forwards only what the target lacks
    ingest(source, "c", 9, 12)
    new MirrorChangeStream(spark, source, tmpDir("erode-ckpt2")).replicateOnce(target)
    assert(ids(target) == (5L until 12L), "the fresh consumer re-replicated rewritten rows")
  }

  test("two sources with the same name replicate in full into one target") {
    val a = new MirrorTable(spark, tmpDir("same-name-a"), "events")
    val b = new MirrorTable(spark, tmpDir("same-name-b"), "events")
    val target = new MirrorTable(spark, tmpDir("same-name-dst"), "dst")
    Seq(a, b, target).foreach(_.ensureSchema(schema, Nil))
    ingest(a, "a", 0, 5)
    ingest(b, "b", 100, 103)
    new MirrorChangeStream(spark, a, tmpDir("same-name-ckpt-a")).replicateOnce(target)
    new MirrorChangeStream(spark, b, tmpDir("same-name-ckpt-b")).replicateOnce(target)
    assert(ids(target) == (0L until 5L) ++ (100L until 103L))
  }

  test("continuous polling handle: sees new commits, stop() is clean, failures rethrow") {
    val source = new MirrorTable(spark, tmpDir("mcs2-mirror"), "src2")
    source.ensureSchema(schema, Nil)
    ingest(source, "a", 0, 5)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stream = new MirrorChangeStream(spark, source, tmpDir("mcs2-ckpt"))
    val h = stream.start(pollMs = 50) { (df, from, to) =>
      assert(df.count() > 0); seen.add((from, to)); ()
    }
    val deadline = System.currentTimeMillis() + 30000
    while (seen.size < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    ingest(source, "b", 5, 8)
    while (seen.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    h.stop()
    assert(seen.size >= 2, s"continuous stream saw ${seen.size} batches")
    assert(!h.isActive)

    // rewritten history fails the NEXT poll loudly
    source.deleteByLineage(Seq(("blob-a", None)))
    val h2 = stream.start(pollMs = 50) { (_, _, _) => () }
    val e = intercept[IllegalStateException](h2.awaitTermination())
    assert(e.getMessage.contains("history was rewritten"), e.getMessage)
  }

  test("vacuumed history fails the stream with the CDC contract error") {
    val source = new MirrorTable(spark, tmpDir("mcs3-mirror"), "src3")
    source.ensureSchema(schema, Nil)
    ingest(source, "a", 0, 5)
    source.deleteByLineage(Seq(("blob-a", None)))
    Thread.sleep(20)
    assert(source.vacuum(0L) >= 1)
    // compact-tolerant consumer (failOnRewrites = false) still cannot read
    // through vacuumed files — the contract error surfaces, not a raw scan
    // failure
    val stream = new MirrorChangeStream(spark, source, tmpDir("mcs3-ckpt"),
      failOnRewrites = false)
    val e = intercept[IllegalStateException](stream.drainOnce((_, _, _) => ()))
    assert(e.getMessage.contains("reclaimed by VACUUM"), e.getMessage)
  }
}
