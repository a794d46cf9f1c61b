package graft.tools

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.{DeltaLogReader, DeltaLogWriter}
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.txlog.TxLog
import graft.util.Sessions

/** Metadata-plane scale proof (`MetaScale <workDir> [nCheckpoint] [nBlobs]`,
  * defaults 1,000,000 / 100,000): a 100 TB Delta table is not big ROWS on
  * this plane — it is 10⁵–10⁶ `add` entries that the checkpoint bootstrap
  * collects to the driver (DeltaLogReader.readCheckpoint) and that the TxLog
  * algebra folds as driver-side Seq/Map (the reference's own C#-in-memory
  * posture, TransactionLog.cs:72-196). Nothing in the per-round BENCH records
  * bounded that axis; this main does, in two parts:
  *
  *  1. **Algebra at 10⁶** (metadata only): generate a multi-part checkpoint
  *     parquet with `nCheckpoint` add entries DISTRIBUTED (never building the
  *     item list on the driver), plus trailing JSON commits; then measure
  *     - `fullSnapshot()` — the open-the-table bootstrap (checkpoint scan +
  *       driver collect + item mapping),
  *     - `delta(prev)` at 10⁶ vs 90% applied — the incremental-poll diff,
  *     - `coalesce` of 10 × 100k logs — the n-ary batch fold,
  *     with wall seconds and used-heap-after-GC per phase, plus a sampled
  *     heap PEAK across the whole run.
  *
  *  2. **E2E first mirror batch at 10⁵ real blobs**: hardlink `nBlobs` real
  *     parquet files (10 rows each), write a checkpoint-only Delta log over
  *     them (log-retention shape: zero commit JSONs), and drive ONE
  *     `MirrorOrchestrator.runOnce()` — checkpoint bootstrap, state-store
  *     persistence of every transition (4 × nBlobs CSV rows), analyze,
  *     8-partition-group staged read of all blobs, atomic publish.
  *
  * Prints ONE JSON line (BENCH_META record shape). Fails loudly (nonzero
  * exit) if any phase throws or the E2E mirror row count mismatches.
  */
object MetaScale {

  private val memBean = ManagementFactory.getMemoryMXBean
  @volatile private var heapPeak = 0L
  private def startHeapSampler(): Unit = {
    val t = new Thread(() => {
      while (true) {
        val u = memBean.getHeapMemoryUsage.getUsed
        if (u > heapPeak) heapPeak = u
        Thread.sleep(100)
      }
    })
    t.setDaemon(true)
    t.start()
  }

  private def usedAfterGcGb(): Double = {
    System.gc(); Thread.sleep(300)
    memBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024 * 1024)
  }

  private def timed[T](f: => T): (T, Double) = graft.util.Timed.timed(f)

  /** In-record host-IO floor probe (r16 verdict #1): the per-file
    * open+footer cost — a footer-only count over a manifest scan of the
    * first `nProbe` blob files, the staged-read floor: opening a file and
    * reading its footer. The r15→r16 1M E2E moved 337.6 → 481-488 s on
    * UNCHANGED mirror code purely with this floor (33.3 → 50.5 s at 100k
    * files, measured by hand-run probes); running the probe INSIDE the
    * record, immediately before and after the E2E, makes every committed
    * meta number self-normalizing instead of needing a prose adjudication.
    * Two reps, min (the first rep warms the FS metadata cache — the honest
    * steady floor).
    */
  def ioFloorSec(spark: SparkSession, blobTable: String, nProbe: Int): Double = {
    val root = new Path(blobTable)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seedLen = fs.getFileStatus(new Path(root, "blob-0000000.parquet")).getLen
    val physicalSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    def rep(): Double = timed {
      val n = org.apache.spark.sql.graftbridge.GraftManifestScan.parquet(
        spark, physicalSchema,
        (0 until nProbe).map(i => org.apache.spark.sql.graftbridge.GraftManifestScan
          .status(new Path(root, f"blob-$i%07d.parquet"), seedLen))).count()
      require(n == nProbe * 10L, s"floor probe counted $n rows != ${nProbe * 10L}")
    }._2
    math.min(rep(), rep())
  }

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val nCkpt   = if (args.length > 1) args(1).toInt else 1000000
    val nBlobs  = if (args.length > 2) args(2).toInt else 100000
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(s"local[$cpus]")
    startHeapSampler()

    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(workDir), true)

    // ---- part 1: algebra at nCkpt ------------------------------------------
    val tableA = s"$workDir/algebra_table"
    val (_, genSec) = timed(writeSyntheticLog(spark, tableA, nCkpt, trailingCommits = 5,
      addsPerCommit = 1000))

    val reader = new DeltaLogReader(spark, tableA, "meta_scale")
    val (snap, bootSec) = timed(reader.fullSnapshot().get)
    val bootHeap = usedAfterGcGb()
    val nAdds = snap.adds.size
    require(nAdds == nCkpt + 5 * 1000, s"bootstrap item count $nAdds != ${nCkpt + 5000}")

    // incremental poll diff: applied state = first 90% of the adds (the
    // realistic "checkpoint ran ahead of the mirror" shape)
    val prev = TxLog(None, None, snap.adds.take((nAdds * 0.9).toInt), Nil)
    val (deltaLog, deltaSec) = timed(snap.delta(prev))
    require(deltaLog.exists(_.adds.size == nAdds - prev.adds.size), "delta add count wrong")

    // n-ary fold: 10 logs of nCkpt/10 adds with distinct paths
    val slices = snap.adds.grouped(math.max(1, nAdds / 10)).toSeq
      .map(s => TxLog(None, None, s, Nil))
    val (folded, coalSec) = timed(TxLog.coalesce(slices))
    require(folded.adds.size == nAdds, "coalesce dropped adds")
    val algebraHeap = usedAfterGcGb()

    // ---- part 2: E2E first mirror batch over nBlobs real files -------------
    val tableB = s"$workDir/blob_table"
    val (_, linkSec) = timed(writeBlobTable(spark, tableB, nBlobs))
    val cfg = MirrorConfig(
      deltaTableUrl = tableB,
      mirrorDir = s"$workDir/mirror",
      mirrorTableName = "meta_e2e",
      checkpointDir = s"$workDir/state",
      // experiment knob: staged-group worker-pool width (default = the
      // MirrorConfig default, the reference's 4-worker posture)
      ingestParallelism = sys.env.get("SPARK_GRAFT_INGEST_PAR").map(_.toInt).getOrElse(4))
    val orch = new MirrorOrchestrator(spark, cfg)
    // floor probe BEFORE the E2E (same session, same files): the host's
    // current per-file open+footer cost, the number every cross-round E2E
    // comparison must normalize by (r16 verdict #1)
    val floorFiles = math.min(nBlobs, 100000)
    val calibStart1 = graft.util.Calibrate.singleThreadSec()
    val calibStartN = graft.util.Calibrate.multiThreadSec(cpus.toInt)
    val ioFloorPre = ioFloorSec(spark, tableB, floorFiles)
    graft.util.PhaseTimer.reset()
    val (batches, e2eSec) = timed(orch.runOnce())
    require(batches >= 1, s"E2E mirror processed $batches batches")
    // the read side of the manifest design: a full snapshot count — plan-
    // time file resolution comes from the commit log (zero listing), and
    // the openCost packing made the published file count right-sized
    val liveFiles = orch.table.liveAdds().size
    val (mirrored, snapshotSec) = timed(orch.table.snapshot().count())
    require(mirrored == nBlobs * 10L, s"mirrored $mirrored rows != ${nBlobs * 10L}")
    val e2eHeap = usedAfterGcGb()

    // E2E phase breakdown (r13 — the 196 s/100k figure was one opaque
    // number): accumulated seconds per phase from PhaseTimer. Attribution
    // is to the INNERMOST label only (r16 verdict #5) — same-thread phases
    // are disjoint; phases on concurrent staging workers still sum across
    // threads and may exceed wall.
    val breakdown = graft.util.PhaseTimer.snapshot().toSeq.sortBy(-_._2._1)
      .map { case (k, (sec, n)) => f""""$k":{"sec":$sec%.3f,"calls":$n}""" }
      .mkString("{", ",", "}")
    // store.append wall in the SAME window as the floors — separates the
    // append policy cost from the host-IO window (r16 verdict #7)
    val appendSec = graft.util.PhaseTimer.snapshot()
      .get("store.append").map(_._1).getOrElse(0.0)

    // floor probe AFTER the E2E: a drifting host-IO window shows up as
    // pre/post disagreement; the mean is the in-window floor the
    // normalized figure divides by
    val ioFloorPost = ioFloorSec(spark, tableB, floorFiles)
    val calibEnd1 = graft.util.Calibrate.singleThreadSec()
    val calibEndN = graft.util.Calibrate.multiThreadSec(cpus.toInt)
    val ioFloorMean = (ioFloorPre + ioFloorPost) / 2.0
    // dimensionless: E2E per-file cost over the floor's per-file cost
    // (r15: 337.6s/10⁶ over 33.3s/10⁵ = 1.01; r16: 481s/10⁶ over
    // 50.5s/10⁵ = 0.95 — the two "incompatible" windows reconcile to 6%)
    val e2ePerFileOverFloor =
      (e2eSec / nBlobs) / (ioFloorMean / floorFiles)

    // ---- part 3: state-store compaction + reload at the accumulated size ---
    // The E2E leaves the index at ~4×nBlobs RAW rows (one per state
    // transition) — exactly the store a 10⁶-file table accumulates. Time
    // the S8 compaction (read + lastWins + atomic rewrite) and a full
    // status reload of the compacted store — each with the parsed-items
    // cache INVALIDATED first, so the figures are the cold fresh-process
    // cost, not a warm-cache fold (the r13 review finding).
    val storePath = new Path(s"$workDir/state/index.csv")
    // raw size spans the segmented layout: base + append segments
    def stateBytes(): Long = fs.listStatus(new Path(s"$workDir/state"))
      .filter { s =>
        val n = s.getPath.getName
        n == "index.csv" || n.startsWith("index.csv.seg-")
      }.map(_.getLen).sum
    val rawBytes = stateBytes()
    val store    = new graft.state.CheckpointStore(spark, s"$workDir/state")
    graft.state.CheckpointStore.invalidateCache()
    val rawRows = store.readRaw().size
    graft.state.CheckpointStore.invalidateCache()
    graft.util.PhaseTimer.reset() // isolate the COLD compaction's sub-phases
    val (_, compactSec) = timed(store.compact())
    val compactBreakdown = graft.util.PhaseTimer.snapshot().toSeq.sortBy(-_._2._1)
      .map { case (k, (sec, n)) => f""""$k":{"sec":$sec%.3f,"calls":$n}""" }
      .mkString("{", ",", "}")
    val compBytes = fs.getFileStatus(storePath).getLen
    graft.state.CheckpointStore.invalidateCache()
    val (liveStatus, reloadSec) =
      timed(graft.state.TableStatus.fromStore(store, "meta_e2e"))
    val liveRows = store.readRaw().size
    require(liveStatus.getHistorical(Long.MaxValue).exists(_.adds.nonEmpty),
      "compacted store lost the applied adds")

    val heapGb  = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val peakGb  = heapPeak / (1024.0 * 1024 * 1024)
    println(
      f"""{"metric":"meta_plane_sec","value":${bootSec + deltaSec + coalSec + e2eSec}%.3f,""" +
      f""""unit":"sec","n_checkpoint_adds":$nCkpt,"n_blobs":$nBlobs,""" +
      f""""phases":{"gen_checkpoint":$genSec%.3f,""" +
      f""""bootstrap_full_snapshot":{"sec":$bootSec%.3f,"adds":$nAdds,"heap_after_gb":$bootHeap%.2f},""" +
      f""""delta_vs_90pct_applied":$deltaSec%.3f,""" +
      f""""coalesce_10_slices":$coalSec%.3f,"algebra_heap_after_gb":$algebraHeap%.2f,""" +
      f""""gen_blobs":$linkSec%.3f,""" +
      f""""e2e_first_mirror_batch":{"sec":$e2eSec%.3f,"blobs":$nBlobs,"rows":$mirrored,"heap_after_gb":$e2eHeap%.2f},""" +
      f""""snapshot_count":{"sec":$snapshotSec%.3f,"live_files":$liveFiles}},""" +
      f""""io_floor":{"n_files":$floorFiles,"pre_sec":$ioFloorPre%.3f,""" +
      f""""post_sec":$ioFloorPost%.3f,"mean_sec":$ioFloorMean%.3f,""" +
      f""""e2e_per_file_over_floor":$e2ePerFileOverFloor%.3f,""" +
      f""""store_append_in_window_sec":$appendSec%.3f},""" +
      s""""calib":${graft.util.Calibrate.recordJson(
             calibStart1, calibStartN, calibEnd1, calibEndN, cpus.toInt)},""" +
      f""""e2e_breakdown":$breakdown,""" +
      f""""store_compaction":{"raw_rows":$rawRows,"raw_mb":${rawBytes / 1048576.0}%.1f,""" +
      f""""compact_sec":$compactSec%.3f,"live_rows":$liveRows,""" +
      f""""compact_mb":${compBytes / 1048576.0}%.1f,"reload_sec":$reloadSec%.3f,""" +
      f""""compact_breakdown":$compactBreakdown},""" +
      f""""driver_heap_gb":$heapGb%.1f,"heap_peak_gb":$peakGb%.2f}""")
    spark.stop()
  }

  /** Checkpoint parquet with `n` adds written DISTRIBUTED in the reader's
    * ActionSchema shape (multi-part protocol form + `_last_checkpoint`),
    * plus `trailingCommits` JSON commits after it — the 100 TB table's log
    * layout. The driver never holds the add list during generation.
    */
  def writeSyntheticLog(spark: SparkSession, tablePath: String, n: Int,
      trailingCommits: Int, addsPerCommit: Int, minReaderVersion: Int = 1): Unit = {
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logPath)

    val schema = DeltaLogReader.ActionSchema
    def nullOf(field: String) = lit(null).cast(schema(field).dataType)

    val version = 10L // pretend commits 0..10 were checkpointed then cleaned
    val adds = spark.range(n.toLong).select(
      nullOf("metaData").as("metaData"),
      struct(
        format_string("part-%09d-c000.snappy.parquet", col("id")).as("path"),
        map(lit("p"), (col("id") % 16).cast("string")).as("partitionValues"),
        (col("id") % 100000000L + 1000000L).as("size"),
        lit(1700000000000L).as("modificationTime"),
        lit(true).as("dataChange"),
        format_string("{\"numRecords\":%d}", col("id") % 500000L).as("stats"),
        map(lit("src"), lit("meta-scale")).as("tags")
      ).cast(schema("add").dataType).as("add"),
      nullOf("remove").as("remove"),
      nullOf("protocol").as("protocol"))
    val tblSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    val head = spark.range(1).select(
      struct(lit("meta-scale-id").as("id"), lit("meta_scale").as("name"),
        lit(null).cast("string").as("description"),
        struct(lit("parquet").as("provider"),
          map().cast("map<string,string>").as("options")).as("format"),
        lit(tblSchema.json).as("schemaString"),
        array(lit("p")).as("partitionColumns"),
        map().cast("map<string,string>").as("configuration"),
        lit(1700000000000L).as("createdTime")).cast(schema("metaData").dataType).as("metaData"),
      nullOf("add").as("add"),
      nullOf("remove").as("remove"),
      struct(lit(minReaderVersion).as("minReaderVersion"), lit(2).as("minWriterVersion"))
        .cast(schema("protocol").dataType).as("protocol"))

    val parts = 8
    val tmpDir = new Path(logPath, ".ckpt-gen-tmp")
    head.unionByName(adds).repartition(parts)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val written = fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    written.zipWithIndex.foreach { case (p, i) =>
      val target =
        if (written.length == 1) new Path(logPath, f"$version%020d.checkpoint.parquet")
        else new Path(logPath,
          f"$version%020d.checkpoint.${i + 1}%010d.${written.length}%010d.parquet")
      require(fs.rename(p, target), s"rename $p -> $target failed")
    }
    fs.delete(tmpDir, true)
    val ptr = fs.create(new Path(logPath, "_last_checkpoint"), true)
    try ptr.write(s"""{"version":$version,"size":${n + 2}}""".getBytes(StandardCharsets.UTF_8))
    finally ptr.close()

    // trailing commits: the poll plane past the checkpoint. Written at
    // explicit versions (DeltaLogWriter.commit numbers from the highest
    // .json, which does not exist in this retention-cleaned layout).
    val w = new DeltaLogWriter(spark, tablePath)
    (1 to trailingCommits).foreach { c =>
      val lines = (0 until addsPerCommit).map { i =>
        w.addAction(f"trail-$c%03d-$i%06d.parquet", size = 1000000L,
          partitionValues = Map("p" -> ((i % 16).toString)), numRecords = Some(100L))
      }
      val out = fs.create(new Path(logPath, f"${version + c}%020d.json"), false)
      try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** `n` REAL parquet blobs (hardlinks of one 10-row seed — the file count
    * is the load, not the bytes) under a Delta table with a checkpoint-only
    * log (metaData + protocol + n adds; zero commit JSONs — the
    * log-retention-cleaned shape fullSnapshot specifically supports).
    */
  def writeBlobTable(spark: SparkSession, tablePath: String, n: Int): Unit = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    // seed file: 10 rows of (id long, v double)
    val seedDir = new Path(root, ".seed")
    spark.range(10).select(col("id"), (col("id") * 1.5).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(seedDir.toString)
    val seed = fs.listStatus(seedDir).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error("seed parquet missing"))
    val seedLocal = java.nio.file.Paths.get(seed.toUri.getPath)
    val rootLocal = java.nio.file.Paths.get(root.toUri.getPath)
    // ext4 caps a file's hardlink count at ~65000 — rotate real copies of
    // the seed every 50k links
    var linkSrc: java.nio.file.Path = null
    (0 until n).foreach { i =>
      if (i % 50000 == 0) {
        linkSrc = rootLocal.resolve(f".seed-copy-${i / 50000}%03d.parquet")
        java.nio.file.Files.copy(seedLocal, linkSrc)
      }
      java.nio.file.Files.createLink(rootLocal.resolve(f"blob-$i%07d.parquet"), linkSrc)
    }

    val logPath = new Path(tablePath, "_delta_log")
    fs.mkdirs(logPath)
    val schema = DeltaLogReader.ActionSchema
    def nullOf(field: String) = lit(null).cast(schema(field).dataType)
    val tblSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    val seedSize = fs.getFileStatus(seed).getLen
    val adds = spark.range(n.toLong).select(
      nullOf("metaData").as("metaData"),
      struct(
        format_string("blob-%07d.parquet", col("id")).as("path"),
        map(lit("p"), (col("id") % 8).cast("string")).as("partitionValues"),
        lit(seedSize).as("size"),
        lit(1700000000000L).as("modificationTime"),
        lit(true).as("dataChange"),
        lit("""{"numRecords":10}""").as("stats"),
        lit(null).cast("map<string,string>").as("tags")
      ).cast(schema("add").dataType).as("add"),
      nullOf("remove").as("remove"),
      nullOf("protocol").as("protocol"))
    val head = spark.range(1).select(
      struct(lit("meta-e2e-id").as("id"), lit("meta_e2e").as("name"),
        lit(null).cast("string").as("description"),
        struct(lit("parquet").as("provider"),
          map().cast("map<string,string>").as("options")).as("format"),
        lit(tblSchema.json).as("schemaString"),
        array(lit("p")).as("partitionColumns"),
        map().cast("map<string,string>").as("configuration"),
        lit(1700000000000L).as("createdTime")).cast(schema("metaData").dataType).as("metaData"),
      nullOf("add").as("add"),
      nullOf("remove").as("remove"),
      struct(lit(1).as("minReaderVersion"), lit(2).as("minWriterVersion"))
        .cast(schema("protocol").dataType).as("protocol"))
    val tmpDir = new Path(logPath, ".ckpt-gen-tmp")
    head.unionByName(adds).repartition(4)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val written = fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    written.zipWithIndex.foreach { case (p, i) =>
      require(fs.rename(p, new Path(logPath,
        f"${3L}%020d.checkpoint.${i + 1}%010d.${written.length}%010d.parquet")), "rename failed")
    }
    fs.delete(tmpDir, true)
    val ptr = fs.create(new Path(logPath, "_last_checkpoint"), true)
    try ptr.write(s"""{"version":3,"size":${n + 2}}""".getBytes(StandardCharsets.UTF_8))
    finally ptr.close()
    fs.delete(seedDir, true)
  }
}
