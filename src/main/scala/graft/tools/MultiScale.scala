package graft.tools

import org.apache.hadoop.fs.Path

import graft.engine.{MirrorConfig, MirrorOrchestration}
import graft.util.Sessions

/** Multi-table mode at scale (`MultiScale <workDir> [nTables] [blobsPerTable]`,
  * defaults 4 / 100,000): the reference drains every table of a database
  * concurrently over ONE shared status blob (MirrorOrchestration.cs:44-52,
  * 127-132); the unit suite (MultiTableSpec) proves isolation logic, but
  * nothing bounded the shared-store CONTENTION at real file counts — four
  * orchestrators interleaving appends/compacts/reads on one index.csv while
  * each stages 10⁵ real blobs. This main builds `nTables` independent blob
  * tables (MetaScale.writeBlobTable fixtures), mirrors them through one
  * [[MirrorOrchestration]].runOnce(), and asserts EVERY table's landing row
  * count exactly. Prints one JSON line (BENCH_META_MULTI record).
  *
  * What it proves at 100 TB: per-database state stays ONE store no matter
  * how many tables share it (the reference's posture), the JVM-global
  * per-path lock + segmented appends keep the state plane from serializing
  * the data planes, and cross-table compaction never drops rows (U4).
  */
object MultiScale {

  private def timed[T](f: => T): (T, Double) = graft.util.Timed.timed(f)

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val nTables = if (args.length > 1) args(1).toInt else 4
    val nBlobs  = if (args.length > 2) args(2).toInt else 100000
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(s"local[$cpus]")

    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(workDir), true)

    val (_, genSec) = timed {
      (0 until nTables).foreach(i =>
        MetaScale.writeBlobTable(spark, s"$workDir/src$i", nBlobs))
    }
    val configs = (0 until nTables).map { i =>
      MirrorConfig(
        deltaTableUrl = s"$workDir/src$i",
        mirrorDir = s"$workDir/mirror$i",
        mirrorTableName = s"multi_t$i",
        checkpointDir = s"$workDir/state") // ONE shared store for all tables
    }
    val orch = new MirrorOrchestration(spark, configs)

    // SPARK_GRAFT_MULTI_CRASH=<fault point> — the crash arm of the record:
    // table 0's poll is killed at the 2nd firing of the point mid-drain
    // while tables 1-3 stage 10⁵ real blobs each through the SHARED store;
    // the exactness requires below then prove siblings landed exact AND the
    // victim resumed to exactly its rows (the in-suite CheckpointCrashSpec
    // variant at 4×1k, held at the real scale).
    val crashPoint = sys.env.get("SPARK_GRAFT_MULTI_CRASH")
    graft.util.PhaseTimer.reset()
    val (batches, e2eSec) = crashPoint match {
      case None => timed(orch.runOnce())
      case Some(point) =>
        val store  = orch.checkpointStore
        val orchs  = configs.map(c =>
          new graft.engine.MirrorOrchestrator(spark, c, Some(store)))
        val count  = new java.util.concurrent.atomic.AtomicInteger()
        val done   = new java.util.concurrent.atomic.AtomicInteger()
        val errs   = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
        @volatile var victim: Thread = null
        graft.state.CheckpointStore.faultHook = p =>
          if (p == point && (Thread.currentThread() eq victim) &&
              count.incrementAndGet() == 2)
            throw new RuntimeException("simulated multi-table crash")
        val (_, sec) = timed {
          val threads = orchs.zipWithIndex.map { case (o, i) =>
            new Thread(() => {
              try { done.addAndGet(o.runOnce()); () }
              catch {
                case e: RuntimeException if e.getMessage == "simulated multi-table crash" =>
                  crashed.set(true)
                case e: Throwable => errs.add(e)
              }
            }, s"multi-poll-$i")
          }
          victim = threads.head
          threads.foreach(_.start())
          threads.foreach(_.join())
          graft.state.CheckpointStore.faultHook = _ => ()
          require(errs.isEmpty, s"sibling poll failed: ${errs.peek()}")
          require(crashed.get(), s"victim never reached firing #2 of $point")
          // fresh-process resume of the victim over the shared store
          graft.state.CheckpointStore.invalidateCache()
          done.addAndGet(
            new graft.engine.MirrorOrchestrator(spark, configs.head,
              Some(new graft.state.CheckpointStore(spark, s"$workDir/state"))).runOnce())
        }
        (done.get(), sec)
    }
    require(batches >= nTables, s"processed $batches batches for $nTables tables")

    // exactness per table, through the shared store's per-table filter
    val (rowCounts, snapshotSec) = timed {
      (0 until nTables).map(i => orch.table(s"multi_t$i").snapshot().count())
    }
    rowCounts.zipWithIndex.foreach { case (n, i) =>
      require(n == nBlobs * 10L, s"table multi_t$i mirrored $n rows != ${nBlobs * 10L}")
    }
    // cross-table state integrity after the concurrent drain + a compaction:
    // every table's rows survive one table-agnostic fold (U4 at scale)
    val store = orch.checkpointStore
    store.compact()
    val live = store.readAll()
    (0 until nTables).foreach { i =>
      val n = live.count(_.tableName == s"multi_t$i")
      require(n >= nBlobs, s"state rows for multi_t$i collapsed to $n (< $nBlobs)")
    }

    val breakdown = graft.util.PhaseTimer.snapshot().toSeq.sortBy(-_._2._1)
      .map { case (k, (sec, n)) => f""""$k":{"sec":$sec%.3f,"calls":$n}""" }
      .mkString("{", ",", "}")
    val idx = fs.listStatus(new Path(s"$workDir/state"))
      .filter { s =>
        val n = s.getPath.getName // state bytes = base + segments (not the owner marker)
        n == "index.csv" || n.startsWith("index.csv.seg-")
      }.map(_.getLen).sum
    val crashField = crashPoint.map(p => s""""crash_point":"$p",""").getOrElse("")
    println(
      f"""{"metric":"multi_table_sec","value":$e2eSec%.3f,"unit":"sec",$crashField""" +
      f""""n_tables":$nTables,"blobs_per_table":$nBlobs,""" +
      f""""rows_per_table":${nBlobs * 10L},"gen_sec":$genSec%.3f,""" +
      f""""snapshot_all_sec":$snapshotSec%.3f,""" +
      f""""shared_state_mb":${idx / 1048576.0}%.1f,"state_live_rows":${live.size},""" +
      f""""e2e_breakdown":$breakdown}""")
    spark.stop()
  }
}
