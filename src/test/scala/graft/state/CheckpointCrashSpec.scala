package graft.state

import java.time.Instant

import org.apache.hadoop.fs.Path

import graft.SparkSuite
import graft.deltalog.TestDelta
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.txlog._

/** Fault injection for the checkpoint commit protocol (round-13 verdict #1):
  * the old delete-then-rename commit had a window where a crash left NO
  * `index.csv`, and a restart treated the missing file as an empty store —
  * cold-start → duplicate ingestion. These specs kill the process (via the
  * [[CheckpointStore.faultHook]]) between every pair of filesystem ops in
  * the new backup→swap→cleanup protocol and assert:
  *   - store level: a reopened store recovers the FULL pre-crash state
  *     (crash before the swap rolls the unacknowledged append back; crash
  *     after the swap keeps it) and never surfaces an empty store;
  *   - mirror level: a resumed orchestrator finishes the batch with the
  *     exact expected row set — no duplicates, no loss — for a crash at
  *     EVERY commit point of the run (systematic sweep).
  */
class CheckpointCrashSpec extends SparkSuite {

  private val T0 = Instant.parse("2026-03-01T00:00:00Z")

  private def item(i: Int): TransactionItem = TransactionItem(
    tableName = "t", startTxId = i.toLong, endTxId = i.toLong,
    action = TxAction.Add, state = TxState.Initial,
    mirrorTimestamp = T0, blobPath = Some(s"blob-$i.parquet"))

  private class SimulatedCrash extends RuntimeException("simulated crash")

  /** Install a hook that throws on the nth invocation of `point`. */
  private def crashAt(point: String, n: Int): Unit = {
    val count = new java.util.concurrent.atomic.AtomicInteger()
    CheckpointStore.faultHook = p =>
      if (p == point && count.incrementAndGet() == n) throw new SimulatedCrash
  }

  private def clearHook(): Unit = CheckpointStore.faultHook = _ => ()

  override protected def afterAll(): Unit = { clearHook(); super.afterAll() }

  /** Fresh-process view of a store dir: new instance, parsed cache dropped. */
  private def reopen(dir: String): CheckpointStore = {
    CheckpointStore.invalidateCache()
    new CheckpointStore(spark, dir)
  }

  test("crash before a segment commit: append rolls back, prior state intact") {
    val dir   = tmpDir("crash-seg-pre")
    val store = new CheckpointStore(spark, dir)
    store.append(Seq(item(0), item(1)))
    store.append(Seq(item(2)))

    crashAt("segment.pre-commit", 1)
    intercept[SimulatedCrash](store.append(Seq(item(3))))
    clearHook()

    val back = reopen(dir)
    // the un-acknowledged append(3) is dropped, every acknowledged row
    // survives — NEVER an empty or truncated store
    assert(back.readAll().toSet == Set(item(0), item(1), item(2)))
    back.append(Seq(item(3)))
    assert(back.readAll().toSet == Set(item(0), item(1), item(2), item(3)))
  }

  test("crash right after a segment commit: append is durable") {
    val dir   = tmpDir("crash-seg-post")
    val store = new CheckpointStore(spark, dir)
    store.append(Seq(item(0)))

    crashAt("segment.committed", 1)
    intercept[SimulatedCrash](store.append(Seq(item(1))))
    clearHook()

    val back = reopen(dir)
    // past the rename → the append IS applied
    assert(back.readAll().toSet == Set(item(0), item(1)))
  }

  test("crash between compact's backup and swap: full pre-crash state recovers") {
    val dir   = tmpDir("crash-compact-pre")
    val store = new CheckpointStore(spark, dir)
    val a = item(0)
    store.append(Seq(a))
    store.compact() // establish a BASE so the backup path is exercised
    store.append(Seq(a.withState(TxState.Done, T0.plusSeconds(5)), item(1)))
    assert(store.readRaw().size == 3)

    crashAt("commit.backup-done", 1)
    intercept[SimulatedCrash](store.compact())
    clearHook()

    // the crash window: base absent, backup on disk, segments untouched
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir, "index.csv")), "crash did not land in the window")
    assert(fs.exists(new Path(dir, "index.csv.old")))

    val back = reopen(dir)
    assert(back.readRaw().size == 3, "recovery must restore the raw pre-compact rows")
    assert(back.readAll().toSet == Set(a.withState(TxState.Done, T0.plusSeconds(5)), item(1)))
    // recovery swept the aborted commit's tmp and the backup was consumed
    assert(!fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .exists(_.startsWith("index.csv.tmp-")), "orphan tmp files not swept")
    assert(!fs.exists(new Path(dir, "index.csv.old")))
  }

  test("crash between compact's swap and segment sweep: fold absorbs the duplicates") {
    val dir   = tmpDir("crash-compact-post")
    val store = new CheckpointStore(spark, dir)
    val a = item(0)
    store.append(Seq(a))
    store.append(Seq(a.withState(TxState.Done, T0.plusSeconds(5)), item(1)))

    crashAt("commit.swap-done", 1)
    intercept[SimulatedCrash](store.compact())
    clearHook()

    val back = reopen(dir)
    // base holds the fold AND the stale segments still exist — last-wins
    // over (fold ++ originals) equals the fold, so the view is unchanged
    assert(back.readAll().toSet == Set(a.withState(TxState.Done, T0.plusSeconds(5)), item(1)))
    back.compact() // next compact removes the duplicates and the stale backup
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir, "index.csv.old")))
    assert(back.readRaw().size == 2)
    assert(back.readAll().toSet == Set(a.withState(TxState.Done, T0.plusSeconds(5)), item(1)))
  }

  test("one table's poll killed mid-drain: concurrent siblings exact, victim resumes (shared store)") {
    // Composes the multi-table mode (4 orchestrators, ONE shared store) with
    // the fault hooks: table 0's poll dies at the k-th firing of a segment
    // write point WHILE tables 1-3 drain concurrently through the same
    // index.csv. The siblings must land exactly (the crash must not corrupt
    // or truncate shared state), and a fresh-process resume of the victim
    // must finish at exactly its rows. The single-table sweep below covers
    // the compaction (commit.*) windows; the multi-table addition here is
    // the INTERLEAVED append path — segment.* is where sharing happens.
    val nTables = 4
    val nBlobs  = 1000
    for (point <- Seq("segment.pre-commit", "segment.committed")) {
      val tag      = point.replace('.', '_')
      val stateDir = tmpDir(s"mstate-$tag")
      val cfgs = (0 until nTables).map { t =>
        val src = tmpDir(s"msrc-$tag-$t")
        graft.tools.MetaScale.writeBlobTable(spark, src, nBlobs)
        graft.engine.MirrorConfig(
          deltaTableUrl = src,
          mirrorDir = tmpDir(s"mmirror-$tag-$t"),
          mirrorTableName = s"mc_${tag}_t$t",
          checkpointDir = stateDir,
          ingestParallelism = 1) // appends stay on the poll thread (BoundedPar inlines p=1)
      }
      val store = new CheckpointStore(spark, stateDir)
      val orchs = cfgs.map(c => new MirrorOrchestrator(spark, c, Some(store)))

      val crashed  = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sibErrs  = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val count    = new java.util.concurrent.atomic.AtomicInteger()
      @volatile var victim: Thread = null
      CheckpointStore.faultHook = p =>
        if (p == point && (Thread.currentThread() eq victim) &&
            count.incrementAndGet() == 2) throw new SimulatedCrash
      val threads = orchs.zipWithIndex.map { case (o, i) =>
        new Thread(() => {
          try { o.runOnce(); () }
          catch {
            case _: SimulatedCrash => crashed.set(true)
            case e: Throwable      => sibErrs.add(e)
          }
        }, s"mc-poll-$tag-$i")
      }
      victim = threads.head
      threads.foreach(_.start())
      threads.foreach(_.join())
      clearHook()
      assert(sibErrs.isEmpty, s"sibling poll failed: ${sibErrs.peek()}")
      assert(crashed.get(), s"victim never reached firing #2 of $point")

      (1 until nTables).foreach { t =>
        val n = orchs(t).table.snapshot().count()
        assert(n == nBlobs * 10L,
          s"table $t mirrored $n rows != ${nBlobs * 10L} after the sibling crash at $point")
      }
      CheckpointStore.invalidateCache() // fresh-process resume of the victim
      val resumedStore = new CheckpointStore(spark, stateDir)
      val resumed = new MirrorOrchestrator(spark, cfgs.head, Some(resumedStore))
      resumed.runOnce()
      val n0 = resumed.table.snapshot().count()
      assert(n0 == nBlobs * 10L, s"victim resumed to $n0 rows (crash at $point)")
      // the shared store still carries every sibling's state (U4)
      val live = resumedStore.readAll()
      (1 until nTables).foreach { t =>
        assert(live.exists(_.tableName == cfgs(t).mirrorTableName),
          s"sibling $t's state lost from the shared store")
      }
    }
  }

  /** Systematic sweep: batch 1 mirrors cleanly, then batch 2's poll —
    * whose opening compaction folds batch 1's segments (the commit.*
    * points) and whose batch pipeline appends segments (the segment.*
    * points) — is killed at the k-th firing of each fault point; a
    * fresh-process resume must land the table at EXACTLY batch1+batch2.
    * A clean batch-2 poll fires each segment point exactly 4 times
    * (discover, analyze, one staged group, close): that pins the crash
    * granularity. With `removeInBatch2`, batch 2 also removes a batch-1
    * file, so its closing append carries adds-Done, removes-Done and
    * staging-Done together.
    */
  private def sweepBatch2(variant: String, removeInBatch2: Boolean): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    for (point <- Seq("commit.backup-done", "commit.swap-done",
        "segment.committed", "segment.pre-commit")) {
      var k       = 1
      var firings = -1
      while (firings < 0) {
        val name = s"crash-$variant-$point-$k".replace('.', '_')
        val src  = new TestDelta(spark, tmpDir(s"src-$name"), name)
        src.init(schema)
        src.addCommit(spark.range(10).toDF("id"))
        val doomed = src.addCommit(spark.range(100, 105).toDF("id"))
        val cfg = MirrorConfig(
          deltaTableUrl = src.dir,
          mirrorDir = tmpDir(s"mirror-$name"),
          mirrorTableName = name,
          checkpointDir = tmpDir(s"state-$name"),
          ingestParallelism = 1) // deterministic commit ordering for the sweep
        new MirrorOrchestrator(spark, cfg).runOnce() // batch 1, clean
        src.addCommit(spark.range(10, 15).toDF("id"))
        if (removeInBatch2) src.removeCommit(doomed)
        val expected = (0L until 15L) ++ (if (removeInBatch2) Nil else (100L until 105L))
        crashAt(point, k)
        val crashed =
          try { new MirrorOrchestrator(spark, cfg).runOnce(); false }
          catch { case _: SimulatedCrash => true }
        clearHook()
        if (!crashed) firings = k - 1 // fewer than k firings in a clean poll — swept all
        else {
          CheckpointStore.invalidateCache() // fresh-process resume
          val resumed = new MirrorOrchestrator(spark, cfg)
          resumed.runOnce()
          val got = resumed.table.snapshot().select("id").collect()
            .map(_.getLong(0)).sorted.toSeq
          assert(got == expected,
            s"crash at $point #$k ($variant): resumed mirror rows $got (duplicates or loss)")
        }
        k += 1
      }
      if (point.startsWith("segment."))
        assert(firings == 4, s"a clean batch-2 poll ($variant) fired $point $firings times, not 4")
      else assert(firings >= 1, s"sweep for $point ($variant) exercised no write point")
    }
  }

  test("mirror resume after a crash at EVERY store write point: exact rows, no duplicates") {
    sweepBatch2("add", removeInBatch2 = false)
  }

  test("crash at EVERY store write point of a batch that also removes: exact rows") {
    sweepBatch2("rm", removeInBatch2 = true)
  }
}
