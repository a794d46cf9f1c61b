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
    assert(intercept[IllegalStateException](t.publishStaged("b1", Seq("g0"))).getMessage
      .contains("no recorded adds"))
    assert(t.liveAdds().isEmpty)
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
