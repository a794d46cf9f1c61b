package graft.engine

import java.time.Instant

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.deltalog.{DeltaLogReader, TestDelta}
import graft.state.{CheckpointStore, TableStatus}
import graft.txlog.{InternalState, TransactionItem, TxAction, TxState}
import graft.util.PhaseTimer

/** The orchestrator reads its table's state once per poll and advances it
  * from its own appends. These specs pin that the status it holds always
  * equals what a fresh process would read from the store, that a change
  * another writer makes between polls is acted on, and the store traffic of
  * one steady-state poll.
  */
class PollStateSpec extends SparkSuite {

  private val schema =
    StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))

  private def setup(name: String): (TestDelta, MirrorConfig) = {
    val src = new TestDelta(spark, tmpDir(s"src-$name"), name)
    val cfg = MirrorConfig(
      deltaTableUrl = src.dir,
      mirrorDir = tmpDir(s"mirror-$name"),
      mirrorTableName = name,
      checkpointDir = tmpDir(s"state-$name"))
    (src, cfg)
  }

  private def ids(orch: MirrorOrchestrator): Seq[Long] =
    orch.table.snapshot().select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** The held status equals a fresh-process read of the store: same items,
    * same order.
    */
  private def assertHeldIsStore(orch: MirrorOrchestrator, cfg: MirrorConfig, step: String): Unit = {
    CheckpointStore.invalidateCache()
    val fresh = TableStatus.fromStore(new CheckpointStore(spark, cfg.checkpointDir), cfg.mirrorTableName)
    assert(fresh.items.nonEmpty, s"$step: empty store")
    assert(orch.heldStatus.items == fresh.items, s"$step: held status differs from the store")
    assert(!orch.heldStatus.isBatchIncomplete, s"$step: poll left a batch incomplete")
  }

  test("held status equals the store after every poll, and a between-poll change is acted on") {
    val (src, cfgBase) = setup("held")
    val cfg = cfgBase.copy(
      creationTimeExpr = Some("to_timestamp(concat(p0, '-01-01'))"),
      goBack = Some(Instant.parse("2000-01-01T00:00:00Z")))
    src.init(schema, Seq("year"))
    val first = src.addCommit(spark.range(0, 3).toDF("id"), Map("year" -> "2024"))
    val orch  = new MirrorOrchestrator(spark, cfg)

    orch.runOnce()
    assertHeldIsStore(orch, cfg, "first batch")
    assert(ids(orch) == (0L until 3L))

    src.addCommitMulti(Seq(
      spark.range(3, 5).toDF("id") -> Map("year" -> "2024"),
      spark.range(5, 8).toDF("id") -> Map("year" -> "2025")))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "adds in two partitions")
    assert(ids(orch) == (0L until 8L))

    src.addCommit(spark.range(0, 0).toDF("id"), Map("year" -> "2025"))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "empty file")

    src.removeCommit(first, Some(Map("year" -> "2024")))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "remove of a live add")
    assert(ids(orch) == (3L until 8L))

    val old = src.addCommit(spark.range(100, 102).toDF("id"), Map("year" -> "1994"))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "go-back-skipped add")
    src.removeCommit(old, Some(Map("year" -> "1994")))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "remove of a skipped add")
    assert(ids(orch) == (3L until 8L))

    val schema2 = schema.add(StructField("tag", StringType))
    src.writer.commit(Seq(src.writer.metaDataAction("id2", "held", schema2, Seq("year"))))
    import spark.implicits._
    src.addCommit(Seq((8L, "x")).toDF("id", "tag"), Map("year" -> "2025"))
    orch.runOnce()
    assertHeldIsStore(orch, cfg, "additive schema change")
    assert(ids(orch) == (3L until 9L))
    assert(orch.table.snapshot().schema.fieldNames.contains("tag"))

    // another store instance appends a discovered batch as Staged with a
    // staging directory that never materialized: the orchestrator's next
    // poll must see it and take the reset path
    src.addCommit(Seq((9L, "y"), (10L, "z")).toDF("id", "tag"), Map("year" -> "2024"))
    val other   = new CheckpointStore(spark, cfg.checkpointDir)
    val applied = TableStatus.fromStore(other, cfg.mirrorTableName).getHistorical(Long.MaxValue)
    val batch   = new DeltaLogReader(spark, cfg.deltaTableUrl, cfg.mirrorTableName).nextBatch(applied).get
    other.append(batch.adds.map(_.withState(TxState.Staged, Instant.now())) :+ TransactionItem(
      cfg.mirrorTableName, batch.startTxId, batch.endTxId,
      TxAction.StagingTable, TxState.Initial, Instant.now(),
      internalState = InternalState(stagingTableName = Some("lost-staging-dir"))))
    assert(orch.runOnce() == 1, "the hand-appended batch was not processed")
    assertHeldIsStore(orch, cfg, "reset path")
    assert(ids(orch) == (3L until 11L))
    // closed under the hand-appended staging item, not a rediscovered one
    val staging = orch.heldStatus.getBatch(batch.startTxId).stagingTable.get
    assert(staging.internalState.stagingTableName.contains("lost-staging-dir"))
    assert(staging.state == TxState.Done)
  }

  test("a steady-state poll reads the store twice and appends four times") {
    val (src, cfgBase) = setup("traffic")
    // no ratio-triggered compaction: the poll under test is the steady
    // state a large store sees, not a small store's frequent rewrite
    val cfg = cfgBase.copy(compactGarbageRatio = 1e9)
    src.init(schema, Seq("year"))
    val f0   = src.addCommit(spark.range(0, 4).toDF("id"), Map("year" -> "2024"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    def pollTraffic(): (Long, Long, Long) = {
      val before = PhaseTimer.snapshot()
      orch.runOnce()
      val after = PhaseTimer.snapshot()
      def n(k: String) = after.get(k).map(_._2).getOrElse(0L) - before.get(k).map(_._2).getOrElse(0L)
      (n("store.read"), n("store.append"), n("store.compact"))
    }

    src.addCommit(spark.range(4, 6).toDF("id"), Map("year" -> "2024"))
    // discover, analyze, one staged group, close
    assert(pollTraffic() == ((2L, 4L, 0L)))
    assert(ids(orch) == (0L until 6L))

    // removing a live file adds no append: its Done rides in the close
    src.replaceCommit(f0, spark.range(1, 4).toDF("id"), Map("year" -> "2024"))
    assert(pollTraffic() == ((2L, 4L, 0L)))
    assert(ids(orch) == (1L until 6L))
    assertHeldIsStore(orch, cfg, "after the remove poll")
  }

  test("a steady two-group poll runs one Spark job per staged group, and one per rewritten group") {
    val (src, cfgBase) = setup("jobs")
    val cfg = cfgBase.copy(compactGarbageRatio = 1e9)
    src.init(schema, Seq("year"))
    val f0   = src.addCommit(spark.range(0, 4).toDF("id"), Map("year" -> "2024"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    src.addCommitMulti(Seq(
      spark.range(4, 6).toDF("id") -> Map("year" -> "2024"),
      spark.range(6, 8).toDF("id") -> Map("year" -> "2025")))
    assert(jobsDuring(orch.runOnce())._2 == 2, "the two staging writes")
    assert(ids(orch) == (0L until 8L))

    // removing a live file rewrites its one file group: one more write job,
    // and no job collects lineage
    src.addCommitMulti(Seq(
      spark.range(8, 10).toDF("id") -> Map("year" -> "2024"),
      spark.range(10, 12).toDF("id") -> Map("year" -> "2025")))
    src.removeCommit(f0, Some(Map("year" -> "2024")))
    assert(jobsDuring(orch.runOnce())._2 == 3, "two staging writes and one delete rewrite")
    assert(ids(orch) == (4L until 12L))
    assertHeldIsStore(orch, cfg, "after the remove poll")
  }
}
