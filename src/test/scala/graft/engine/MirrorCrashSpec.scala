package graft.engine

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.deltalog.TestDelta
import graft.sink.MirrorTable
import graft.state.CheckpointStore
import graft.types.KustoTypes

/** Crash windows of the sink's staging and publish: a process killed (via
  * [[MirrorTable.faultHook]]) after a group's data write, after its recorded
  * adds, or before or after publish's commit, in a batch that stages two
  * groups and removes a live file. A fresh orchestrator over a fresh store
  * handle must finish the batch with the mirror equal to the source, no blob
  * ingested twice, and every live file's lineage tag equal to its rows.
  * StreamMirror and replication, the other two writers the mirror's `txn`
  * guards, crash after publish's commit and must resume without a
  * duplicate row.
  */
class MirrorCrashSpec extends SparkSuite {

  private class SimulatedCrash extends RuntimeException("simulated crash")

  private val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))

  // how often each point fires in the crash batch: two staged groups, then
  // the delete rewrite's one group
  private val Points = Seq(
    "stage.data-written" -> 3, "stage.adds-written" -> 3,
    "publish.pre-commit" -> 1, "publish.committed" -> 1)

  override protected def afterAll(): Unit = { MirrorTable.faultHook = _ => (); super.afterAll() }

  test("publishing a group whose adds were never recorded fails loudly") {
    val t = new MirrorTable(spark, tmpDir("unrecorded"), "unrecorded")
    t.ensureSchema(schema, Seq("year"))
    val df = spark.range(0, 3).toDF("id").withColumn("year", lit(2024))
      .withColumn(KustoTypes.BlobPathColumn, lit("blob-0"))
      .withColumn(KustoTypes.IngestTsColumn, lit(new java.sql.Timestamp(0L)))
    MirrorTable.faultHook = p => if (p == "stage.data-written") throw new SimulatedCrash
    try intercept[SimulatedCrash](t.stage("b1", "g0", df, Map("year" -> "2024")))
    finally MirrorTable.faultHook = _ => ()
    assert(!t.isStaged("b1", "g0"))
    assert(intercept[IllegalStateException](t.publishStaged("b1", Seq("g0"), "test", 1)).getMessage
      .contains("no recorded adds"))
    assert(t.liveAdds().isEmpty)
  }

  /** Run `body` with a crash at the first `publish.committed`. */
  private def crashAfterCommit(body: => Unit): Unit = {
    MirrorTable.faultHook = p => if (p == "publish.committed") throw new SimulatedCrash
    try body finally MirrorTable.faultHook = _ => ()
  }

  private def ids(m: MirrorTable): Seq[Long] =
    m.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  test("crash at publish.committed in StreamMirror: the replayed micro-batch is not republished") {
    val srcDir = tmpDir("crash-stream-src")
    val dir    = tmpDir("crash-stream-mirror")
    val mirror = new MirrorTable(spark, dir, "crash_stream")
    mirror.ensureSchema(idSchema, Nil)
    val ckpt = tmpDir("crash-stream-ckpt")
    def run(): Unit = graft.streaming.StreamMirror.start(
      spark.readStream.schema(idSchema).parquet(srcDir), mirror, ckpt).awaitTermination()
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    run()
    spark.range(5, 9).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    crashAfterCommit(intercept[org.apache.spark.sql.streaming.StreamingQueryException](run()))
    run()
    assert(ids(mirror) == (0L until 9L))
    MirrorInvariants.checkFiles(spark, dir, mirror.name)
  }

  test("crash at publish.committed in replicateOnce: the replayed range is not republished") {
    val source = new MirrorTable(spark, tmpDir("crash-repl-src"), "crash_repl_src")
    val dstDir = tmpDir("crash-repl-dst")
    val target = new MirrorTable(spark, dstDir, "crash_repl_dst")
    Seq(source, target).foreach(_.ensureSchema(idSchema, Nil))
    source.stage("b1", "g0", spark.range(0, 5).toDF("id")
      .withColumn(KustoTypes.BlobPathColumn, lit("blob-1"))
      .withColumn(KustoTypes.IngestTsColumn, lit(new java.sql.Timestamp(0L))))
    source.publishStaged("b1", Seq("g0"), "test", 1)
    val stream = new graft.streaming.MirrorChangeStream(spark, source, tmpDir("crash-repl-ckpt"))
    crashAfterCommit(intercept[SimulatedCrash](stream.replicateOnce(target)))
    assert(stream.appliedVersion() == -1L, "the crash came after the offset write")
    assert(stream.replicateOnce(target).nonEmpty)
    assert(ids(target) == (0L until 5L))
    MirrorInvariants.checkFiles(spark, dstDir, target.name)
  }

  for ((point, times) <- Points; n <- 1 to times)
    test(s"crash at $point #$n: resume leaves the mirror equal to the source") {
      val name = s"crash_${point.replace('.', '_').replace('-', '_')}_$n"
      val src  = new TestDelta(spark, tmpDir(s"src-$name"), name)
      val cfg  = MirrorConfig(
        deltaTableUrl = src.dir,
        mirrorDir = tmpDir(s"mirror-$name"),
        mirrorTableName = name,
        checkpointDir = tmpDir(s"state-$name"),
        statsColumns = Seq("id"))
      src.init(schema, Seq("year"))
      val doomed = src.addCommit(spark.range(0, 4).toDF("id"), Map("year" -> "2024"))
      new MirrorOrchestrator(spark, cfg).runOnce()

      src.addCommitMulti(Seq(
        spark.range(4, 7).toDF("id") -> Map("year" -> "2024"),
        spark.range(7, 10).toDF("id") -> Map("year" -> "2025")))
      src.removeCommit(doomed, Some(Map("year" -> "2024")))
      val fired = new java.util.concurrent.atomic.AtomicInteger()
      MirrorTable.faultHook = p => if (p == point && fired.incrementAndGet() == n) throw new SimulatedCrash
      try intercept[SimulatedCrash](new MirrorOrchestrator(spark, cfg).runOnce())
      finally MirrorTable.faultHook = _ => ()

      CheckpointStore.invalidateCache()
      val resumed = new MirrorOrchestrator(spark, cfg, Some(new CheckpointStore(spark, cfg.checkpointDir)))
      resumed.runOnce()
      assert(!resumed.heldStatus.isBatchIncomplete, "resume left the batch incomplete")
      assert(resumed.table.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq == (4L until 10L))
      MirrorInvariants.check(spark, src.dir, cfg)
    }
}
