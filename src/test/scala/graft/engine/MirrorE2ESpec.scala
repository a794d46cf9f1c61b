package graft.engine

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.deltalog.TestDelta
import graft.state.CheckpointStore
import graft.txlog.{TxAction, TxState}
import graft.types.KustoTypes

/** End-to-end mirror pipeline tests — the Spark restatement of the
  * reference's Simple/Electric integration suites (SimpleTest.cs,
  * DeleteTest.cs golden-count pattern) minus live Azure.
  */
class MirrorE2ESpec extends SparkSuite {

  private val idSchema = StructType(Seq(StructField("id", LongType)))

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

  /** The sorted ids of `df` and the files its scan read ("number of files
    * read"; `Dataset.inputFiles` lists the whole manifest and shows no pruning).
    */
  private def idsAndFiles(df: DataFrame): (Seq[Long], Long) = {
    val out = df.select("id")
    (out.collect().map(_.getLong(0)).sorted.toSeq, GraftManifestScan.filesRead(out))
  }

  test("one line one column (SimpleTest.cs:5-22)") {
    val (src, cfg) = setup("one")
    src.init(idSchema)
    src.addCommit(spark.range(1).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    assert(orch.runOnce() >= 1)
    assert(ids(orch) == Seq(0L))
    // lineage columns present and populated
    val row = orch.table.snapshot().collect().head
    assert(row.getAs[String](KustoTypes.BlobPathColumn).endsWith(".parquet"))
    assert(row.getAs[java.sql.Timestamp](KustoTypes.IngestTsColumn) != null)
  }

  test("multi line + incremental second batch (SimpleTest.cs:24-44)") {
    val (src, cfg) = setup("multi")
    src.init(idSchema)
    src.addCommit(spark.range(10).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 10L))

    src.addCommit(spark.range(10, 15).toDF("id"))
    orch.runOnce()
    assert(ids(orch) == (0L until 15L))
    // idempotent: nothing new → no change, no duplicates
    orch.runOnce()
    assert(ids(orch) == (0L until 15L))
  }

  test("checkpoint bootstrap one-shot (CheckpointTxOneShot)") {
    val (src, cfg) = setup("ckpt1")
    src.init(idSchema)
    (0 until 11).foreach(i => src.addCommit(spark.range(i, i + 1).toDF("id")))
    src.checkpoint()
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 11L))
  }

  test("checkpoint with delta two-shot (CheckpointTxWithDelta)") {
    val (src, cfg) = setup("ckpt2")
    src.init(idSchema)
    (0 until 5).foreach(i => src.addCommit(spark.range(i, i + 1).toDF("id")))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 5L))

    (5 until 11).foreach(i => src.addCommit(spark.range(i, i + 1).toDF("id")))
    src.checkpoint()
    orch.runOnce()
    assert(ids(orch) == (0L until 11L))
  }

  test("row delete via file rewrite (CheckpointTxWithDelete: ids 1..10)") {
    val (src, cfg) = setup("del")
    src.init(idSchema)
    val f0 = src.addCommit(spark.range(0, 6).toDF("id"))
    src.addCommit(spark.range(6, 11).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 11L))

    src.replaceCommit(f0, spark.range(1, 6).toDF("id")) // DELETE id=0
    orch.runOnce()
    assert(ids(orch) == (1L until 11L))
  }

  test("add+remove in one batch is never ingested (O2 dead-work elimination)") {
    val (src, cfg) = setup("annihilate")
    src.init(idSchema)
    val ephemeral = src.addCommit(spark.range(100, 105).toDF("id"))
    src.addCommit(spark.range(5).toDF("id"))
    src.removeCommit(ephemeral)
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 5L))
    // the ephemeral blob never reached the mirror's live set
    assert(!orch.table.liveAdds().exists(_.tags.getOrElse(graft.sink.MirrorTable.SourceBlobsTag, "")
      .contains(ephemeral)))
  }

  test("partitioned table: constant-injected partition columns (O6, PartitionLoad)") {
    val (src, cfg) = setup("part")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    src.addCommit(spark.range(0, 5).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(5, 9).toDF("id"), Map("year" -> "1995"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    val snap = orch.table.snapshot()
    assert(snap.count() == 9)
    assert(snap.schema("year").dataType == IntegerType)
    assert(snap.filter(snap("year") === 1994).count() == 5)
    val y = snap.select("id", "year").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(y(0L) == 1994 && y(8L) == 1995)
  }

  test("go-back skips old partitions; removing a skipped add is a no-op (DeleteSkippedTwoShots)") {
    val (src, cfgBase) = setup("goback")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    val oldFile = src.addCommit(spark.range(0, 3).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(3, 7).toDF("id"), Map("year" -> "2024"))
    val cfg = cfgBase.copy(
      creationTimeExpr = Some("to_timestamp(concat(p0, '-01-01'))"),
      goBack = Some(Instant.parse("2000-01-01T00:00:00Z")))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (3L until 7L)) // 1994 partition skipped

    src.removeCommit(oldFile, Some(Map("year" -> "1994")))
    orch.runOnce()                     // remove of a Skipped add → Skipped, no error
    assert(ids(orch) == (3L until 7L))
    val state = new CheckpointStore(spark, cfg.checkpointDir).readAll()
    val removeItem = state.filter(i => i.action == TxAction.Remove && i.blobPath.contains(oldFile))
    assert(removeItem.nonEmpty && removeItem.forall(_.state == TxState.Skipped))
  }

  test("goBack-derived vacuum retention reclaims tombstoned files (retention-policy analog)") {
    val (src, cfgBase) = setup("gbvac")
    src.init(idSchema)
    val f0 = src.addCommit(spark.range(0, 6).toDF("id"))
    src.addCommit(spark.range(6, 11).toDF("id"))
    // goBack present (cutoff in the past — nothing skipped) and the derived
    // retention window: zero = reclaim tombstones immediately after drain
    val cfg = cfgBase.copy(
      goBack = Some(Instant.parse("2000-01-01T00:00:00Z")),
      vacuumRetain = Some(java.time.Duration.ZERO))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 11L))
    def dataFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(cfg.mirrorDir, "data")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    assert(dataFiles() == orch.table.liveAdds().size) // baseline: all live

    src.replaceCommit(f0, spark.range(1, 6).toDF("id")) // DELETE id=0 → rewrite
    Thread.sleep(20) // tombstoned file's mtime strictly below the vacuum cutoff
    orch.runOnce() // drain + end-of-poll vacuum
    assert(ids(orch) == (1L until 11L))
    // the delete rewrite tombstoned the original file; the end-of-poll vacuum
    // must have reclaimed it — every file still on disk is live, and an
    // explicit zero-retention vacuum finds nothing more
    assert(dataFiles() == orch.table.liveAdds().size)
    assert(orch.table.vacuum(0) == 0)
  }

  test("additive schema evolution mid-stream (create-merge semantics)") {
    val (src, cfg) = setup("evolve")
    src.init(idSchema)
    src.addCommit(spark.range(3).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    val schema2 = StructType(Seq(StructField("id", LongType), StructField("tag", StringType)))
    src.writer.commit(Seq(src.writer.metaDataAction("id2", "evolve", schema2, Nil)))
    import spark.implicits._
    src.addCommit(Seq((3L, "x"), (4L, "y")).toDF("id", "tag"))
    orch.runOnce()

    val snap = orch.table.snapshot()
    assert(snap.count() == 5)
    assert(snap.schema.fieldNames.contains("tag"))
    assert(snap.filter(snap("tag").isNull).count() == 3)  // pre-evolution rows
    assert(snap.filter(snap("tag") === "x").count() == 1)
  }

  test("reference KQL creation-time expression works unchanged (§2.i)") {
    val (src, cfgBase) = setup("kqlct")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    src.addCommit(spark.range(0, 2).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(2, 5).toDF("id"), Map("year" -> "2024"))
    val cfg = cfgBase.copy(
      creationTimeExpr = Some("todatetime(strcat(p0,'-01-01'))"), // the reference default
      goBack = Some(Instant.parse("2000-01-01T00:00:00Z")))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (2L until 5L))
  }

  test("reset path: staging lost mid-batch → re-stage and publish (DeltaTableOrchestration.cs:181-200)") {
    val (src, cfg) = setup("reset")
    src.init(idSchema)
    src.addCommit(spark.range(4).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)

    // hand-craft a mid-batch crash state: batch discovered and STAGED, but
    // the staging directory never materialized (e.g. tmpfs lost on restart)
    val reader = new graft.deltalog.DeltaLogReader(spark, cfg.deltaTableUrl, cfg.mirrorTableName)
    val batch  = reader.nextBatch(None).get
    val store  = new CheckpointStore(spark, cfg.checkpointDir)
    val staging = graft.txlog.TransactionItem(
      cfg.mirrorTableName, batch.startTxId, batch.endTxId,
      TxAction.StagingTable, TxState.Initial, Instant.now(),
      internalState = graft.txlog.InternalState(stagingTableName = Some("lost-staging-dir")))
    store.append(batch.metadata.map(_.withState(TxState.Done, Instant.now())).toSeq ++
      batch.adds.map(_.withState(TxState.Staged, Instant.now())) :+ staging)
    new graft.sink.MirrorTable(spark, cfg.mirrorDir, cfg.mirrorTableName)
      .ensureSchema(StructType(Seq(StructField("id", LongType))), Nil)

    orch.runOnce() // must reset the Staged adds, re-stage, publish
    assert(ids(orch) == (0L until 4L))
  }

  test("upstream OPTIMIZE churn preserves counts (LoadTest OptimizeOneGo)") {
    val (src, cfg) = setup("opt-src")
    src.init(idSchema)
    val f0 = src.addCommit(spark.range(0, 5).toDF("id"))
    val f1 = src.addCommit(spark.range(5, 9).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 9L))

    // upstream OPTIMIZE: one commit replacing both files with a compacted one
    val (rel, n) = src.writeFile(spark.range(0, 9).toDF("id"))
    src.writer.commit(Seq(
      src.writer.removeAction(f0), src.writer.removeAction(f1),
      src.writer.addAction(rel,
        new org.apache.hadoop.fs.Path(src.dir, rel)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(new org.apache.hadoop.fs.Path(src.dir, rel)).getLen,
        Map.empty, Some(n))))
    orch.runOnce()
    assert(ids(orch) == (0L until 9L)) // same rows, churned files
  }

  test("sink OPTIMIZE compacts small files and deletes still target lineage") {
    val (src, cfg) = setup("opt-sink")
    src.init(idSchema)
    val f0 = src.addCommit(spark.range(0, 4).toDF("id"))
    src.addCommit(spark.range(4, 8).toDF("id"))
    src.addCommit(spark.range(8, 12).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    val before = orch.table.liveAdds().size
    assert(before >= 3)

    assert(orch.table.optimize(targetFileBytes = 512L * 1024 * 1024) > 0)
    assert(orch.table.liveAdds().size < before)
    assert(ids(orch) == (0L until 12L))

    // lineage-targeted delete still works on the compacted file
    src.replaceCommit(f0, spark.range(1, 4).toDF("id")) // upstream DELETE id=0
    orch.runOnce()
    assert(ids(orch) == (1L until 12L))

    // VACUUM reclaims the tombstoned bytes (pre-compaction + pre-delete
    // files) without touching the live snapshot or the commit log
    def dataFiles(): Int = {
      val it = orch.table.snapshot().sparkSession.sparkContext
        .hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(cfg.mirrorDir).getFileSystem(it)
      val iter = fs.listFiles(new org.apache.hadoop.fs.Path(cfg.mirrorDir, "data"), true)
      var n = 0
      while (iter.hasNext) { if (iter.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val beforeVacuum = dataFiles()
    Thread.sleep(5) // ensure tombstones age past a 0 ms retention
    val reclaimed = orch.table.vacuum(retainMs = 0L)
    assert(reclaimed > 0)
    assert(dataFiles() == beforeVacuum - reclaimed)
    assert(dataFiles() == orch.table.liveAdds().size)
    assert(ids(orch) == (1L until 12L)) // snapshot unaffected

    // and the mirror keeps working after the GC
    src.addCommit(spark.range(12, 14).toDF("id"))
    orch.runOnce()
    assert(ids(orch) == (1L until 14L))
  }

  test("auto-OPTIMIZE: N-batches and small-file triggers compact post-drain, stats survive") {
    val (src, cfg0) = setup("auto-opt")
    val cfg = cfg0.copy(statsColumns = Seq("id"), optimizeEveryBatches = Some(3))
    src.init(idSchema)
    val orch = new MirrorOrchestrator(spark, cfg)

    // commits arriving in one poll coalesce into ONE batch, so batch count
    // == poll count here: two polls stay below the every-3 threshold
    src.addCommit(spark.range(0, 4).toDF("id"))
    src.addCommit(spark.range(4, 8).toDF("id"))
    orch.runOnce() // batch 1 (init + both adds coalesced)
    assert(orch.table.liveAdds().size == 2)
    src.addCommit(spark.range(8, 12).toDF("id"))
    orch.runOnce() // batch 2
    assert(orch.table.liveAdds().size == 3)

    // 3rd batch crosses the threshold: the drain's tail OPTIMIZE compacts
    src.addCommit(spark.range(12, 16).toDF("id"))
    orch.runOnce() // batch 3 → trigger
    assert(orch.table.liveAdds().size == 1, "auto-OPTIMIZE did not compact")
    assert(ids(orch) == (0L until 16L))

    // stats survive the rewrite: the compacted file still carries id bounds,
    // so a disjoint range opens zero files (stripped stats would force a
    // conservative include)
    assert(orch.table.liveAdds().head.tags.contains(
      graft.sink.MirrorTable.StatsTag))
    assert(idsAndFiles(orch.table.snapshot().where(col("id").between(100, 200))) == ((Nil, 0L)))

    // small-file trigger, independent of the batch counter: a fresh
    // orchestrator (counter 0) with the count trigger compacts as soon as
    // one partition holds >= 3 small live files (1 compacted + 2 new)
    src.addCommit(spark.range(16, 20).toDF("id"))
    src.addCommit(spark.range(20, 24).toDF("id"))
    val orch2 = new MirrorOrchestrator(spark,
      cfg.copy(optimizeEveryBatches = None, optimizeSmallFileCount = Some(3)))
    orch2.runOnce()
    assert(orch2.table.liveAdds().size == 1, "small-file trigger did not fire")
    assert(ids(orch2) == (0L until 24L))

    // idle poll: no work → no maintenance jobs, no churn
    val v = orch2.table.currentVersion()
    orch2.runOnce()
    assert(orch2.table.currentVersion() == v)
  }

  test("partitioned OPTIMIZE keeps partition values and range-clusters files") {
    val (src, cfg) = setup("opt-part")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    src.addCommit(spark.range(0, 3).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(3, 6).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(6, 9).toDF("id"), Map("year" -> "1995"))
    src.addCommit(spark.range(9, 12).toDF("id"), Map("year" -> "1995"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(orch.table.liveAdds().size >= 4)

    assert(orch.table.optimize(
      targetFileBytes = 512L * 1024 * 1024, clusterBy = Seq("id")) > 0)

    // rewrites carry their group's partition values → pruning still exact
    val live = orch.table.liveAdds()
    assert(live.forall(_.partitionValues.nonEmpty))
    assert(live.map(_.partitionValues("year")).toSet == Set("1994", "1995"))
    assert(idsAndFiles(orch.table.snapshot().where(col("year") === 1994)) ==
      ((0L until 6L, live.count(_.partitionValues("year") == "1994").toLong)))
    assert(ids(orch) == (0L until 12L))

    // clusterBy: rows inside each rewritten file are sorted by the key
    import org.apache.spark.sql.functions.input_file_name
    val perFile = orch.table.snapshot()
      .withColumn("f", input_file_name())
      .select("f", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    perFile.values.foreach { rows =>
      val seq = rows.map(_._2).toSeq
      assert(seq == seq.sorted, s"file not clustered: $seq")
    }
  }

  test("mid-staging crash: resume stages only unfinished groups, no data mixed or lost") {
    val (src, cfg) = setup("midstage")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    src.addCommit(spark.range(0, 4).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(4, 9).toDF("id"), Map("year" -> "1995"))

    // crash state: batch discovered, 1994 group already STAGED (files on
    // disk under its content-addressed dir), 1995 group still Analyzed
    val reader = new graft.deltalog.DeltaLogReader(spark, cfg.deltaTableUrl, cfg.mirrorTableName)
    val batch  = reader.nextBatch(None).get
    val store  = new CheckpointStore(spark, cfg.checkpointDir)
    val stagingName = "crash-staging"
    val staging = graft.txlog.TransactionItem(
      cfg.mirrorTableName, batch.startTxId, batch.endTxId,
      TxAction.StagingTable, TxState.Initial, Instant.now(),
      internalState = graft.txlog.InternalState(stagingTableName = Some(stagingName)))
    val (g94, g95) = batch.adds.partition(_.partitionValues.exists(_.get("year").contains("1994")))
    val mirror = new graft.sink.MirrorTable(spark, cfg.mirrorDir, cfg.mirrorTableName)
    mirror.ensureSchema(schema, Seq("year"))
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    import org.apache.spark.sql.functions._
    mirror.stage(stagingName, MirrorOrchestrator.groupId(Map("year" -> "1994")),
      spark.range(0, 4).toDF("id")
        .withColumn("year", lit(1994))
        .withColumn(KustoTypes.BlobPathColumn, lit(g94.head.blobPath.get))
        .withColumn(KustoTypes.IngestTsColumn, lit(ts)), Map("year" -> "1994"))
    store.append(batch.metadata.map(_.withState(TxState.Done, Instant.now())).toSeq ++
      g94.map(_.withState(TxState.Staged, Instant.now())) ++
      g95.map(_.withState(TxState.Analyzed, Instant.now())) :+ staging)

    new MirrorOrchestrator(spark, cfg).runOnce()
    val snap = mirror.snapshot()
    assert(snap.count() == 9)
    assert(snap.filter(snap("year") === 1994).count() == 4)
    assert(snap.filter(snap("year") === 1995).count() == 5)
  }

  test("file stats: publish records min/max, range filters prune, clusterBy makes ranges disjoint") {
    val (src, cfgBase) = setup("stats")
    val cfg = cfgBase.copy(statsColumns = Seq("id"))
    src.init(idSchema)
    src.addCommit(spark.range(0, 100).toDF("id"))
    src.addCommit(spark.range(100, 200).toDF("id"))
    src.addCommit(spark.range(200, 300).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    // every published file carries recorded [min,max] for id
    val live = orch.table.liveAdds()
    assert(live.nonEmpty)
    assert(live.forall(a => orch.table.statsOf(a, "id").isDefined))

    // range pruning: a [0,50] filter opens only the file(s) covering it
    val (low, lowFiles) = idsAndFiles(orch.table.snapshot().where("id >= 0 and id <= 50"))
    assert(low == (0L to 50L))
    assert(lowFiles < live.size)
    // full-range filter sees everything
    assert(idsAndFiles(orch.table.snapshot().where("id between 0 and 299")) ==
      ((0L until 300L, live.size.toLong)))

    // after a clusterBy OPTIMIZE the rewritten files keep disjoint ranges
    assert(orch.table.optimize(
      targetFileBytes = 2048L, clusterBy = Seq("id")) > 0)
    val ranges = orch.table.liveAdds().flatMap(a => orch.table.statsOf(a, "id")).sortBy(_._1)
    assert(ranges.nonEmpty)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping ranges: $ranges")
      case _                       =>
    }
    assert(ids(orch) == (0L until 300L))
    // disjoint ranges prune: the [0,50] filter reads only the files covering it
    val (lowAfter, lowAfterFiles) = idsAndFiles(orch.table.snapshot().where("id <= 50"))
    assert(lowAfter == (0L to 50L))
    assert(lowAfterFiles < ranges.size, s"no pruning over $ranges")
  }

  test("string-column stats: lexicographic bounds recorded, string range filters prune") {
    val (src, cfgBase) = setup("strstats")
    val cfg = cfgBase.copy(statsColumns = Seq("id", "cat"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("cat", StringType)))
    src.init(schema)
    import spark.implicits._
    src.addCommit(Seq((1L, "apple"), (2L, "berry")).toDF("id", "cat"))
    src.addCommit(Seq((3L, "mango"), (4L, "peach")).toDF("id", "cat"))
    src.addCommit(Seq((5L, "tango"), (6L, "zebra")).toDF("id", "cat"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    val live = orch.table.liveAdds()
    assert(live.forall(a => orch.table.strStatsOf(a, "cat").isDefined))
    assert(live.forall(a => orch.table.statsOf(a, "id").isDefined)) // mixed tag

    // a ["a","c"] filter opens only the apple/berry file
    val pruned = orch.table.snapshot().where($"cat" >= "a" && $"cat" <= "c")
    assert(idsAndFiles(pruned) == ((Seq(1L, 2L), 1L)))
    assert(idsAndFiles(orch.table.snapshot().where($"cat" >= "a" && $"cat" <= "zz")) ==
      ((1L to 6L, live.size.toLong)))

    // truncation widening keeps long bounds conservative: min is a prefix,
    // max increments its last kept char (strictly above the whole prefix set)
    val Some((mnT, mxT)) =
      graft.sink.MirrorTable.truncateBounds("a" * 100, "b" * 100, cap = 8)
    assert(mnT == "a" * 8 && mnT <= "a" * 100)
    assert(mxT == "b" * 7 + "c" && mxT > "b" * 100)
    // non-ASCII bounds truncate on code points, the UTF8_BINARY order the
    // scan compares in: short ones are kept whole, and a max cut inside a
    // supplementary character keeps it and increments it
    assert(graft.sink.MirrorTable.truncateBounds("café", "z", cap = 8) == Some(("café", "z")))
    assert(graft.sink.MirrorTable.truncateBounds("a", "emoji 😀", cap = 8) == Some(("a", "emoji 😀")))
    val Some((mnU, mxU)) = graft.sink.MirrorTable.truncateBounds("ééééé", "ab😀cd", cap = 3)
    assert(mnU == "ééé" && mxU == "ab😁")
    assert(org.apache.spark.unsafe.types.UTF8String.fromString(mxU)
      .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString("ab😀cd")) > 0)
    // the increment steps over the surrogate range; U+10FFFF has no successor
    assert(graft.sink.MirrorTable.truncateBounds("a", "x\uD7FFyz", cap = 2) == Some(("a", "x\uE000")))
    assert(graft.sink.MirrorTable.truncateBounds("a", "x\uDBFF\uDFFFy", cap = 2).isEmpty)
  }

  test("OPTIMIZE records stats on a partition's lone small file, and null for unusable bounds") {
    val (src, cfg) = setup("opt-lone")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType),
      StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    def rows(from: Long, until: Long) =
      spark.range(from, until).toDF("id").withColumn("v", org.apache.spark.sql.functions.lit(Double.NaN))
    src.addCommit(rows(100, 300), Map("year" -> "1994"))
    src.addCommit(rows(300, 500), Map("year" -> "1994"))
    src.addCommit(rows(500, 1000), Map("year" -> "2024"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce() // published without stats

    def optimize() = orch.table.optimize(
      targetFileBytes = 512L * 1024 * 1024, clusterBy = Seq("id"), statsColumns = Seq("id", "v"))
    assert(optimize() > 0)
    val live = orch.table.liveAdds()
    assert(live.size == 2)
    assert(live.forall(a => orch.table.statsOf(a, "id").isDefined))
    // a NaN-only column has no usable bound: recorded as null, so the file
    // is not rewritten by every later OPTIMIZE
    assert(live.forall(_.tags(graft.sink.MirrorTable.StatsTag).contains("\"v\":null")))
    assert(optimize() == -1L)
    val ranged = graft.kql.KqlPipeline.run(Map("T" -> orch.table.snapshot()), "T | where id between (0 .. 50)")
    assert(ranged.collect().isEmpty)
    assert(GraftManifestScan.filesRead(ranged) == 0L)
    assert(ids(orch) == (100L until 1000L))
  }

  test("escaped paths: a space and a % in the source root and a partition value keep lineage exact") {
    val dir = tmpDir("src-escaped") + "/source 100%"
    val src = new TestDelta(spark, dir, "escaped")
    val cfg = MirrorConfig(
      deltaTableUrl = dir,
      mirrorDir = tmpDir("mirror-escaped"),
      mirrorTableName = "escaped",
      checkpointDir = tmpDir("state-escaped"),
      statsColumns = Seq("id"))
    src.init(StructType(Seq(StructField("id", LongType), StructField("part", StringType))), Seq("part"))
    val odd   = src.addCommit(spark.range(1, 4).toDF("id"), Map("part" -> "a b%20c"))
    val plain = src.addCommit(spark.range(4, 6).toDF("id"), Map("part" -> "plain"))
    val orch  = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    // every row carries its add's recorded path, byte for byte
    val byBlob = orch.table.snapshot().select(KustoTypes.BlobPathColumn, "id").collect()
      .groupBy(r => Option(r.getString(0))).map { case (b, rs) => b -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(byBlob == Map(Some(odd) -> Seq(1L, 2L, 3L), Some(plain) -> Seq(4L, 5L)))
    MirrorInvariants.check(spark, dir, cfg)

    // a source remove of the escaped file deletes exactly its rows
    src.removeCommit(odd, Some(Map("part" -> "a b%20c")))
    orch.runOnce()
    assert(ids(orch) == Seq(4L, 5L))
    MirrorInvariants.check(spark, dir, cfg)
  }

  test("time travel: snapshotAt reproduces each commit's live set") {
    val (src, cfg) = setup("timetravel")
    src.init(idSchema)
    val f0 = src.addCommit(spark.range(0, 5).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 5L))

    src.addCommit(spark.range(5, 9).toDF("id"))
    src.replaceCommit(f0, spark.range(1, 5).toDF("id")) // upstream DELETE id=0
    orch.runOnce()
    assert(ids(orch) == (1L until 9L))

    // find the first sink commit version that published data (one replay)
    val reader = new graft.deltalog.DeltaLogReader(spark, cfg.mirrorDir, cfg.mirrorTableName)
    val versions = reader.listCommits().map(_._1)
    val firstPublish = reader.readCommits(reader.listCommits())
      .find(_.adds.nonEmpty).map(_.startTxId).get
    val asOf = orch.table.snapshotAt(firstPublish)
    assert(asOf.select("id").collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))

    // latest version == current snapshot
    val latest = orch.table.snapshotAt(versions.last)
    assert(latest.select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L until 9L))

    // history(): one row per state-bearing commit, counts navigable to
    // snapshotAt versions
    val hist = orch.table.history().collect()
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted)
    assert(hist.exists(r => r.getLong(0) == firstPublish && r.getLong(2) > 0)) // n_adds
    assert(hist.exists(_.getBoolean(4))) // the schema commit
    assert(hist.exists(_.getLong(3) > 0)) // the delete rewrite removed files

    // before the first publish there is no data, only schema
    assert(orch.table.snapshotAt(firstPublish - 1).count() == 0)
    // a version beyond the log must ERROR, not silently return current state
    // (the same version argument would otherwise mean different data later)
    val e = intercept[IllegalArgumentException](orch.table.snapshotAt(versions.last + 10))
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("partition-pruned snapshot opens only matching files") {
    val (src, cfg) = setup("prune")
    val schema = StructType(Seq(StructField("id", LongType), StructField("year", IntegerType)))
    src.init(schema, Seq("year"))
    src.addCommit(spark.range(0, 5).toDF("id"), Map("year" -> "1994"))
    src.addCommit(spark.range(5, 9).toDF("id"), Map("year" -> "1995"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()

    // file-level metadata carries the partition values
    val live = orch.table.liveAdds()
    assert(live.forall(_.partitionValues.nonEmpty))
    val in1994 = live.count(_.partitionValues("year") == "1994").toLong
    assert(0 < in1994 && in1994 < live.size)
    assert(idsAndFiles(orch.table.snapshot().where(col("year") === 1994)) == ((0L until 5L, in1994)))
  }

  test("continuous mode drains commits arriving between probes (§2.h)") {
    val (src, cfgBase) = setup("cont")
    src.init(idSchema)
    src.addCommit(spark.range(3).toDF("id"))
    val cfg  = cfgBase.copy(continuous = true, probeIntervalMs = 25L)
    val orch = new MirrorOrchestrator(spark, cfg)
    var polls = 0
    orch.run(until = () => {
      polls += 1
      if (polls == 1) src.addCommit(spark.range(3, 6).toDF("id"))
      polls >= 3
    })
    assert(ids(orch) == (0L until 6L))
  }

  test("empty files skip ingestion (O4) and crash-resume is idempotent") {
    val (src, cfg) = setup("resume")
    src.init(idSchema)
    src.addCommit(spark.range(0, 0).toDF("id")) // empty file, numRecords=0
    src.addCommit(spark.range(3).toDF("id"))
    val orch = new MirrorOrchestrator(spark, cfg)
    orch.runOnce()
    assert(ids(orch) == (0L until 3L))

    // a fresh orchestrator over the same checkpoint store resumes to no-op
    val orch2 = new MirrorOrchestrator(spark, cfg)
    orch2.runOnce()
    assert(ids(orch2) == (0L until 3L))
  }
}
